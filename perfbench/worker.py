"""One benchmark session: a fresh process that starts Spark through
``session.get_spark``, runs one workload's units pass after pass, checks
the outputs and prints a ``RESULT`` line for ``run.py``.

Protocol on stdout (everything else goes to stderr):

- ``READY {json}`` once the session has run its first trivial job;
- ``MEASURED`` when the timed passes are over (``run.py`` stops its
  memory sampling there);
- ``RESULT {json}`` last.

A pass runs every unit of the workload once, one after another (a
closed loop with one client). Each query unit is timed in two parts,
the builder ``fn(spark, sf_dir)`` and the action, which writes every
output column to Spark's ``noop`` sink. After each unit's timer stops,
the persisted RDDs it left behind are counted and released, so no pass
is served by an earlier pass's cache. Output checks run after the
timed passes.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import statistics
import sys
import time
from datetime import date, datetime
from decimal import Decimal

sys.path.insert(0, os.getcwd())

from github_etl_spark.session import get_spark  # noqa: E402

import workloads  # noqa: E402


def _now_ms() -> float:
    return time.time() * 1e3


def leaked_rdds(spark) -> int:
    """Persisted RDDs alive right now; releases them and every cached
    Dataset so the next unit starts from an empty cache."""
    jsc = spark.sparkContext._jsc
    persisted = jsc.getPersistentRDDs()
    ids = list(persisted.keySet().toArray())
    for rid in ids:
        persisted.get(rid).unpersist(True)
    spark.catalog.clearCache()
    return len(ids)


# ------------------------------------------------------------ query units


def run_query_unit(spark, q, sf_dir: str, label: str) -> dict:
    """Build and materialize one catalog query; returns its timings and
    the row count observed on the way to the sink."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    spark.sparkContext.setJobDescription(label)
    t0 = _now_ms()
    df = q.fn(spark, sf_dir)
    t1 = _now_ms()
    obs = Observation()
    df.observe(obs, F.count(F.lit(1)).alias("rows")).write.format("noop").mode(
        "overwrite"
    ).save()
    t2 = _now_ms()
    spark.sparkContext.setJobDescription(None)
    return {"t0": t0, "t1": t1, "t2": t2, "rows": obs.get["rows"]}


def _norm(v):
    """Canonical cell for the cross-engine value hash."""
    if v is None:
        return None
    if isinstance(v, Decimal):
        return round(float(v), 9)
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 9)
    if isinstance(v, datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, date):
        return datetime(v.year, v.month, v.day).isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def value_hash(cols: list[str], rows: list[tuple]) -> str:
    """Order-insensitive hash of a result: columns sorted by name,
    cells normalized, rows sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    canon = sorted(repr(tuple(_norm(r[i]) for i in order)) for r in rows)
    return hashlib.sha256("\n".join(canon).encode()).hexdigest()


def check_query(spark, con, q, sf_dir: str, observed: list[int]) -> str | None:
    """None when the unit's output is right, else the reason."""
    df = q.fn(spark, sf_dir)
    cols = list(df.columns)
    rows = [tuple(r) for r in df.collect()]
    leaked_rdds(spark)
    if any(n != len(rows) for n in observed):
        return f"row count unstable across passes: {observed} vs {len(rows)}"
    if q.oracle is None:
        return None if rows else "rows-only query returned no rows"
    res = con.execute(q.oracle)
    ocols = [d[0] for d in res.description]
    orows = res.fetchall()
    if sorted(ocols) != sorted(cols):
        return f"columns differ: {sorted(cols)} vs oracle {sorted(ocols)}"
    if len(orows) != len(rows):
        return f"rows {len(rows)} vs oracle {len(orows)}"
    if value_hash(cols, rows) != value_hash(ocols, orows):
        return "value hash differs from oracle"
    return None


def query_workload(spark, args, units: list[str]) -> tuple[list[dict], dict, list]:
    from github_etl_spark.plans import QUERIES

    queries = {n: QUERIES[n] for n in units}
    passes, failures = [], {}
    t_start = time.perf_counter()
    while True:
        p = len(passes)
        rec = {"start_ms": _now_ms(), "units": {}}
        t0 = time.perf_counter()
        for name, q in queries.items():
            if name in failures:
                continue
            try:
                u = run_query_unit(spark, q, args.data, f"perfbench:{p}:{name}")
            except Exception as e:  # one broken unit must not lose the run
                failures[name] = f"raised {type(e).__name__}: {e}"[:300]
                print(f"# {name} FAILED: {failures[name]}", file=sys.stderr)
                continue
            u["leaked"] = leaked_rdds(spark)
            if u["leaked"]:
                print(f"# {name} left {u['leaked']} persisted RDDs", file=sys.stderr)
            rec["units"][name] = u
        rec["wall_s"] = time.perf_counter() - t0
        rec["end_ms"] = _now_ms()
        passes.append(rec)
        if _done(passes, t_start, args):
            break
    print("MEASURED", flush=True)
    print(f"# measured after {time.perf_counter() - t_start:.1f}s", file=sys.stderr, flush=True)
    if args.check:
        import duckdb

        import datagen

        con = duckdb.connect()
        for t in datagen.TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{args.data}/{t}.parquet'"
            )
        for name, q in queries.items():
            if name in failures:
                continue
            observed = [p["units"][name]["rows"] for p in passes]
            try:
                why = check_query(spark, con, q, args.data, observed)
            except Exception as e:
                why = f"check raised {type(e).__name__}: {e}"[:300]
            if why:
                failures[name] = why
                print(f"# {name} CHECK FAILED: {why}", file=sys.stderr)
        con.close()
        print(f"# checked after {time.perf_counter() - t_start:.1f}s", file=sys.stderr, flush=True)
    return passes, failures, list(queries)


def _done(passes: list, t_start: float, args) -> bool:
    """At least ``--min-passes`` passes, then stop once the run's
    measuring time is used up."""
    return len(passes) >= args.min_passes and time.perf_counter() - t_start >= args.seconds


# -------------------------------------------------------------- ETL units


def _files(root: str) -> dict:
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            if n.endswith(".parquet"):
                p = os.path.join(d, n)
                out[p] = os.path.getsize(p)
    return out


def etl_workload(spark, args, cfg: dict) -> tuple[list[dict], dict, list]:
    """The reference's daily job against the in-process mock API."""
    from github_etl_spark.etl import cli
    from github_etl_spark.sinks.snapshot import (
        SNAPSHOT_TABLES,
        compact_snapshot,
        read_snapshot,
    )
    from github_etl_spark.streaming.pipeline import stream_landing

    import datagen
    from mockapi import MockGithub

    repos = {
        r: datagen.github_repo(r, cfg["prs"], args.seed) for r in workloads.ETL_REPOS
    }
    landing = {}
    for i, (repo, prs) in enumerate(repos.items()):
        landing[repo] = os.path.join(args.work, f"landing{i}")
        datagen.write_landing(landing[repo], prs, per_file=cfg["prs"])
    mock = MockGithub(repos)
    date_ = workloads.ETL_DATE
    # Every pass reloads the same batch warehouse with SNAPSHOT_FORCE=1:
    # the cold pass creates the snapshot, later passes overwrite it in
    # place, and the final check proves the overwrites left no extra rows.
    wh = os.path.join(args.work, "batch")
    env = {
        "GITHUB_REPOS": ",".join(repos),
        "SNAPSHOT_BASE": wh,
        "GITHUB_API_URL": mock.url,
        "SNAPSHOT_DATE": date_,
        "SNAPSHOT_FORCE": "1",
    }
    passes, failures = [], {}
    t_start = time.perf_counter()
    try:
        while True:
            p = len(passes)
            base = os.path.join(args.work, f"pass{p}")
            swh = os.path.join(base, "stream")
            progress = []

            def cli_run():
                cli.main(env=env, spark=spark)

            def stream():
                for i, repo in enumerate(repos):
                    q, _ = stream_landing(
                        spark, landing[repo], repo, swh, date_,
                        os.path.join(base, f"ckpt{i}"), max_files_per_trigger=1,
                    )
                    if not q.awaitTermination(120):
                        q.stop()
                        raise RuntimeError(f"stream for {repo} did not drain")
                    progress.extend(q.recentProgress)

            def compact():
                for t in SNAPSHOT_TABLES:
                    for repo in repos:
                        compact_snapshot(spark, os.path.join(swh, t), repo, date_)

            def readback():
                for root in (wh, swh):
                    for t in SNAPSHOT_TABLES:
                        read_snapshot(spark, os.path.join(root, t)).write.format(
                            "noop"
                        ).mode("overwrite").save()

            steps = zip(workloads.ETL_UNITS, (cli_run, stream, compact, readback))
            rec = {"start_ms": _now_ms(), "units": {}, "files": 0, "bytes": 0}
            mock.reset()
            seen = {}
            t0 = time.perf_counter()
            for name, step in steps:
                spark.sparkContext.setJobDescription(f"perfbench:{p}:{name}")
                a = _now_ms()
                try:
                    step()
                except Exception as e:
                    failures[name] = f"raised {type(e).__name__}: {e}"[:300]
                    print(f"# {name} FAILED: {failures[name]}", file=sys.stderr)
                    break
                finally:
                    spark.sparkContext.setJobDescription(None)
                b = _now_ms()
                rec["units"][name] = {"t0": a, "t1": a, "t2": b, "leaked": leaked_rdds(spark)}
                if args.trace:
                    now = {**_files(wh), **_files(swh)}
                    new = {k: v for k, v in now.items() if k not in seen}
                    rec["files"] += len(new)
                    rec["bytes"] += sum(new.values())
                    seen = now
            rec["wall_s"] = time.perf_counter() - t0
            rec["end_ms"] = _now_ms()
            rec["sources"] = mock.stats()
            rec["batch_wh"] = wh
            rec["streaming"] = {
                "batches": len(progress),
                "batch_s": [pr["batchDuration"] / 1e3 for pr in progress],
                "input_rows": sum(pr["numInputRows"] for pr in progress),
            }
            passes.append(rec)
            if failures or _done(passes, t_start, args):
                break
    finally:
        mock.close()
    print("MEASURED", flush=True)
    if args.check and not failures:
        why = check_etl(spark, len(repos) * cfg["prs"], wh, os.path.join(
            args.work, f"pass{len(passes) - 1}", "stream"))
        if why:
            failures["etl.check"] = why
            print(f"# ETL CHECK FAILED: {why}", file=sys.stderr)
    return passes, failures, list(workloads.ETL_UNITS)


def check_etl(spark, n_prs: int, wh: str, swh: str) -> str | None:
    """Closed-form row count per table in the batch warehouse, and the
    streaming warehouse equal to it row for row."""
    from github_etl_spark.sinks.snapshot import SNAPSHOT_TABLES, read_snapshot

    import datagen

    per_pr = {
        "pull_requests": 1,
        "commits": datagen.COMMITS_PER_PR * datagen.FILES_PER_COMMIT,
        "reviewers": datagen.REVIEWS_PER_PR,
        "comments": datagen.COMMENTS_PER_PR,
    }
    for t in SNAPSHOT_TABLES:
        batch = read_snapshot(spark, os.path.join(wh, t))
        stream = read_snapshot(spark, os.path.join(swh, t)).drop("ingest_batch")
        cols = sorted(batch.columns)
        b_rows = sorted(map(repr, batch.select(*cols).collect()))
        s_rows = sorted(map(repr, stream.select(*cols).collect()))
        want = per_pr[t] * n_prs
        if len(b_rows) != want:
            return f"{t}: {len(b_rows)} rows, expected {want}"
        if b_rows != s_rows:
            return f"{t}: streaming warehouse differs from batch warehouse"
    leaked_rdds(spark)
    return None


# ----------------------------------------------------------------- layers


def layer_metrics(args, passes: list[dict]) -> list[dict]:
    """Per-pass per-layer metrics from the event log and the pass records."""
    from eventlog import EventLog

    log = EventLog.find(args.eventlog)
    out = []
    for rec in passes:
        m = {}
        units = rec["units"].values()
        build = [(u["t0"], u["t1"]) for u in units if u["t1"] > u["t0"]]
        m["plans.build_s"] = sum(b - a for a, b in build) / 1e3
        m["plans.build_jobs"] = sum(len(log.jobs_in(a, b)) for a, b in build)
        m["plans.driver_s"] = sum((b - a) / 1e3 - log.covered_s(a, b) for a, b in build)
        m["plans.action_s"] = sum(u["t2"] - u["t1"] for u in units) / 1e3
        m["plans.leaked_caches"] = sum(u["leaked"] for u in units)
        ex = log.exec_totals(rec["start_ms"], rec["end_ms"])
        wall = (rec["end_ms"] - rec["start_ms"]) / 1e3
        for k, v in ex.items():
            m[f"exec.{k}"] = v
        m["exec.utilisation"] = ex["run_s"] / (wall * args.cores) if wall else 0.0
        src = rec.get("sources", {})
        for k in ("requests", "retries", "response_bytes", "busy_s", "in_flight_mean"):
            m[f"sources.{k}"] = src.get(k, 0)
        def span(name: str) -> float:
            u = rec["units"].get(name)
            return (u["t2"] - u["t1"]) / 1e3 if u else 0.0

        m["etl.cli_s"] = span("etl.cli")
        m["sinks.load_s"] = (
            log.write_s(rec["start_ms"], rec["end_ms"], rec["batch_wh"])
            if "batch_wh" in rec else 0.0
        )
        m["sinks.files_written"] = rec.get("files", 0)
        m["sinks.bytes_written"] = rec.get("bytes", 0)
        m["sinks.compact_s"] = span("sinks.compact")
        m["sinks.readback_s"] = span("sinks.readback")
        st = rec.get("streaming", {})
        m["streaming.drain_s"] = span("streaming.landing")
        m["streaming.batches"] = st.get("batches", 0)
        m["streaming.batch_s_p50"] = statistics.median(st["batch_s"]) if st.get("batch_s") else 0.0
        m["streaming.input_rows"] = st.get("input_rows", 0)
        out.append(m)
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--data", default="")
    ap.add_argument("--work", required=True)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--cores", type=int, default=4)
    ap.add_argument("--size", default="full")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--check", type=int, default=1)
    ap.add_argument("--min-passes", type=int, default=3)
    ap.add_argument("--eventlog", default="")
    args = ap.parse_args()

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    t1 = time.perf_counter()
    spark.range(1000).collect()
    t2 = time.perf_counter()
    print("READY " + json.dumps({"get_spark_s": t1 - t0, "first_job_s": t2 - t1}), flush=True)
    cfg = workloads.WORKLOADS[args.workload][args.size]
    if args.workload == "etl_snapshot":
        passes, failures, units = etl_workload(spark, args, cfg)
    else:
        passes, failures, units = query_workload(spark, args, cfg["units"])
    result = {
        "passes": [
            {"wall_s": p["wall_s"], "start_ms": p["start_ms"], "end_ms": p["end_ms"],
             "spans": {n: [u["t0"], u["t2"]] for n, u in p["units"].items()}}
            for p in passes
        ],
        "units": units,
        "failures": failures,
    }
    if args.trace:
        spark.stop()  # flushes the event log
        result["layers"] = layer_metrics(args, passes)
    print("RESULT " + json.dumps(result), flush=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
