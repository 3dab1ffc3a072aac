"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Makes the workload's inputs from the
seed under ``.perfbench/`` in the checkout, then measures in fresh
worker processes (``worker.py``):

- ``--trace 0``: one workload session. Its start-up is ``setup_s``; it
  runs a cold pass, then warm passes until ``--seconds`` have gone, then
  checks outputs. Its process tree's RSS is sampled from ``/proc``.
- ``--trace 1``: a short untraced session (the cold pass and one warm
  pass), then the full session with Spark's event log on; prints the
  per-layer split of the traced session and the tracing overhead
  (traced minus untraced pass times).

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (name → value and unit, the names listed in
``BENCHMARK.json``). Reported times are wall time less the time the
host took from the VM's CPUs (``StealClock``). Exits non-zero, printing no result, when the
library is missing or a session fails.
"""

from __future__ import annotations

import argparse
import bisect
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import workloads  # noqa: E402

# A run must end within 180 s; sessions are killed past this deadline.
RUN_DEADLINE_S = 170
T0 = time.perf_counter()
PAGE_MB = os.sysconf("SC_PAGE_SIZE") / (1024 * 1024)
# /proc/stat counts CPU time in 10 ms ticks; a window holds about 100 of
# them on a busy 4-CPU VM.
STEAL_WINDOW_S = 0.25


def _log(msg: str) -> None:
    print(f"# {time.perf_counter() - T0:6.1f}s {msg}", file=sys.stderr, flush=True)


def _proc_table() -> dict[int, tuple[int, int, int, str]]:
    """pid → (ppid, rss pages, address-space bytes, command name) for
    every live process in /proc (zombies have ended and are left out)."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2 :].split()
        if fields[0] == "Z":
            continue
        comm = stat[stat.index("(") + 1 : stat.rindex(")")]
        out[int(name)] = (int(fields[1]), int(fields[21]), int(fields[20]), comm)
    return out


def _tree(root: int, table: dict) -> set[int]:
    kids: dict[int, list[int]] = {}
    for pid, (ppid, *_) in table.items():
        kids.setdefault(ppid, []).append(pid)
    seen, todo = set(), [root]
    while todo:
        pid = todo.pop()
        if pid in seen:
            continue
        seen.add(pid)
        todo.extend(kids.get(pid, []))
    return seen


def _spawning(pid: int, table: dict) -> bool:
    """True for a child the JVM is spawning, caught before exec: it still
    shares the JVM's address space, so its RSS is the JVM's again."""
    ppid, _, vsize, _ = table[pid]
    parent = table.get(ppid)
    return parent is not None and parent[3] == "java" and parent[2] == vsize


def _cpu_times() -> tuple[int, int]:
    """(busy, steal) CPU time of this VM so far, summed over its CPUs, in
    clock ticks (``/proc/stat``). Steal is time a CPU was ready to run
    while the host ran something else on it."""
    with open("/proc/stat") as f:
        t = [int(x) for x in f.readline().split()[1:9]]
    user, nice, system, _idle, _iowait, irq, softirq, steal = t
    return user + nice + system + irq + softirq, steal


class StealClock:
    """Running total of the wall time the host took from this VM.

    In each window of about ``STEAL_WINDOW_S`` the VM's CPUs wanted
    busy + steal CPU time and got busy of it; the window's lost wall time
    is its length times the share withheld, steal / (busy + steal). That
    is exact when the wanted CPUs all wait alike and when one CPU works
    alone. ``lost(a, b)`` interpolates the total between two instants
    (epoch ms), so a pass's time less its lost time is the time it takes
    when the host takes nothing.
    """

    def __init__(self):
        self._last = _cpu_times()
        self.points = [(time.time(), 0.0)]

    def sample(self, force: bool = False) -> None:
        t_prev, total = self.points[-1]
        now = time.time()
        if not force and now - t_prev < STEAL_WINDOW_S:
            return
        cur = _cpu_times()
        busy, steal = (c - p for c, p in zip(cur, self._last))
        self._last = cur
        share = steal / (busy + steal) if busy + steal else 0.0
        self.points.append((now, total + (now - t_prev) * share))

    def _at(self, t: float) -> float:
        pts = self.points
        i = bisect.bisect_right(pts, (t, math.inf))
        if i == 0:
            return 0.0
        if i == len(pts):
            return pts[-1][1]
        (t0, l0), (t1, l1) = pts[i - 1], pts[i]
        return l0 + (l1 - l0) * (t - t0) / (t1 - t0)

    def lost(self, a_ms: float, b_ms: float) -> float:
        return self._at(b_ms / 1e3) - self._at(a_ms / 1e3)

    def span(self, a_ms: float, b_ms: float) -> float:
        """Seconds from ``a_ms`` to ``b_ms``, less the time the host took."""
        return (b_ms - a_ms) / 1e3 - self.lost(a_ms, b_ms)


class Session:
    """One worker process, its process tree, its RSS peak and the time
    the host took from the VM while it ran."""

    def __init__(self, argv: list[str], env: dict):
        self.steal = StealClock()
        self.spawn_ms = time.time() * 1e3
        self.t_spawn = time.perf_counter()
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), *argv],
            stdout=subprocess.PIPE, env=env, text=True, start_new_session=True,
        )
        self.pids: set[int] = {self.proc.pid}
        self.peak_mb = 0.0
        self.peak_parts: list[int] = []
        self._stop = threading.Event()
        self._sampler = threading.Thread(target=self._sample, daemon=True)
        self._sampler.start()

    def _sample(self) -> None:
        while not self._stop.is_set():
            table = _proc_table()
            tree = _tree(self.proc.pid, table) & table.keys()
            self.pids |= tree
            own = [table[p][1] for p in tree if not _spawning(p, table)]
            rss = sum(own) * PAGE_MB
            if rss > self.peak_mb:
                self.peak_mb = rss
                self.peak_parts = sorted((round(r * PAGE_MB) for r in own), reverse=True)
            self.steal.sample()
            self._stop.wait(0.05)

    def lines(self):
        """(seconds since spawn, line) for each stdout line."""
        for line in self.proc.stdout:
            yield time.perf_counter() - self.t_spawn, line.rstrip("\n")

    def _kill(self) -> None:
        table = _proc_table()
        self.pids |= _tree(self.proc.pid, table)
        for pid in self.pids & table.keys():
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass

    def close(self) -> None:
        """Kill the worker and every process it started, and wait until
        each has ended."""
        self._kill()
        self.proc.wait()
        self._stop.set()
        self._sampler.join()
        self.steal.sample(force=True)
        while self.pids & _proc_table().keys():
            time.sleep(0.05)
            self._kill()


def run_session(argv: list[str], env: dict) -> dict:
    """Run one worker until it prints its ``RESULT`` line, then end its
    process tree, so its shutdown is not measured. Returns its setup
    time, parsed result and RSS peak; raises when the worker fails
    first."""
    s = Session(argv, env)
    out = {"peak_rss_mb": None}
    timer = threading.Timer(max(1.0, T0 + RUN_DEADLINE_S - time.perf_counter()), s.proc.kill)
    timer.start()
    try:
        for elapsed, line in s.lines():
            if line.startswith("READY "):
                out["ready_ms"] = time.time() * 1e3
                out["raw_setup_s"] = elapsed
                out["ready"] = json.loads(line[6:])
            elif line == "MEASURED":
                out["peak_rss_mb"] = s.peak_mb
                _log(f"peak RSS {s.peak_mb:.0f} MB by process: {s.peak_parts}")
            elif line.startswith("RESULT "):
                out["result"] = json.loads(line[7:])
                break
    finally:
        timer.cancel()
        s.close()
    if "result" not in out:
        raise RuntimeError(f"worker {argv[:2]} ended without a result")
    out["setup_s"] = s.steal.span(s.spawn_ms, out["ready_ms"])
    out["steal"] = s.steal
    return out


def _geomean(xs: list[float]) -> float:
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def pass_times(session: dict) -> list[dict]:
    """Each pass's time and its units' times, less the time the host
    took from the VM, and the time it took."""
    clock = session["steal"]
    out = []
    for p in session["result"]["passes"]:
        out.append({
            "s": clock.span(p["start_ms"], p["end_ms"]),
            "steal_s": clock.lost(p["start_ms"], p["end_ms"]),
            "units": {n: clock.span(a, b) for n, (a, b) in p["spans"].items()},
        })
    return out


def pass_metrics(passes: list[dict], warmup: int) -> dict:
    """cold_s, warm_s and warm_geomean_s from ``pass_times``; the
    ``warmup`` passes after the cold one are left out of the warm ones."""
    warm = passes[1 + warmup:]
    units = [n for n in passes[0]["units"] if all(n in p["units"] for p in warm)]
    per_unit = [statistics.median(p["units"][n] for p in warm) for n in units]
    return {
        "cold_s": passes[0]["s"],
        "warm_s": statistics.median(p["s"] for p in warm),
        "warm_geomean_s": _geomean(per_unit) if per_unit else 0.0,
    }


def child_env(work: str, cores: int, eventlog: str | None) -> dict:
    """Keep every file Spark, the JVM and Python write inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    submit = [
        "--driver-java-options",
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms2g -XX:+AlwaysPreTouch",
    ]
    if eventlog:
        os.makedirs(eventlog, exist_ok=True)
        submit += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", "spark.eventLog.compress=false",
            "--conf", f"spark.eventLog.dir=file://{eventlog}",
        ]
    env = dict(os.environ)
    env.update({
        "PYSPARK_SUBMIT_ARGS": " ".join(
            f'"{a}"' if " " in a else a for a in submit
        ) + " pyspark-shell",
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        "SPARK_GRAFT_WAREHOUSE": os.path.join(work, "warehouse"),
        "SPARK_LOCAL_DIRS": tmp,
        "TMPDIR": tmp,
        "PYTHONPATH": os.getcwd(),
        "PYTHONDONTWRITEBYTECODE": "1",
    })
    env.pop("SPARK_GRAFT_CONFS", None)
    return env


def workload_session(
    args, work: str, data: str, cores: int, trace: bool, check: bool, min_passes: int
) -> dict:
    sub = os.path.join(work, "traced" if trace else "plain")
    os.makedirs(sub, exist_ok=True)
    eventlog = os.path.join(sub, "eventlog") if trace else None
    argv = [
        "--workload", args.workload, "--data", data, "--work", sub,
        "--seed", str(args.seed), "--seconds", str(args.seconds),
        "--cores", str(cores), "--size", args.size,
        "--trace", str(int(trace)), "--check", str(int(check)),
        "--min-passes", str(min_passes), "--eventlog", eventlog or "",
    ]
    return run_session(argv, child_env(sub, cores, eventlog))


def _metric(value, unit: str) -> dict:
    return {"value": value, "unit": unit}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "github_etl_spark", "session.py")):
        print("run.py: no github_etl_spark package in the current directory; "
              "run from the root of a checkout", file=sys.stderr)
        return 2
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(root, ".perfbench", f"run-{os.getpid()}")
    os.makedirs(work)
    try:
        cfg = workloads.WORKLOADS[args.workload][args.size]
        data = ""
        if "sf" in cfg:
            data = datagen.write_tables(os.path.join(work, "data"), cfg["sf"], args.seed)
        _log("inputs ready")
        if args.trace:
            # The untraced baseline for the overhead needs only the cold
            # pass and the first warm pass.
            plain = workload_session(
                args, work, data, cores, trace=False, check=False, min_passes=2
            )
            traced = workload_session(
                args, work, data, cores, trace=True, check=True, min_passes=cfg["passes"]
            )
            metrics = trace_metrics(plain, traced, spec, cfg["warmup"])
            result = traced["result"]
        else:
            main_run = workload_session(
                args, work, data, cores, trace=False, check=True, min_passes=cfg["passes"]
            )
            _log("workload session done")
            result = main_run["result"]
            passes = pass_times(main_run)
            _log_passes(result, passes, main_run)
            metrics = {
                "setup_s": _metric(main_run["setup_s"], "s"),
                **{k: _metric(v, "s") for k, v in pass_metrics(passes, cfg["warmup"]).items()},
                "peak_rss_mb": _metric(main_run["peak_rss_mb"], "MB"),
            }
    except (RuntimeError, OSError, ValueError, KeyError) as e:
        print(f"run.py: {type(e).__name__}: {e}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    failures = result["failures"]
    for name, why in sorted(failures.items()):
        print(f"# FAILED {name}: {why}", file=sys.stderr)
    attempted = len(result["units"])
    names = [m["name"] for m in spec["per_layer" if args.trace else "end_to_end"]]
    missing = [n for n in names if n not in metrics]
    if missing:
        print(f"run.py: metrics not measured: {missing}", file=sys.stderr)
        return 1
    print(json.dumps({
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": {n: metrics[n] for n in names},
    }))
    return 0


def _log_passes(result: dict, passes: list[dict], session: dict) -> None:
    print(f"# setup: {session['setup_s']:.2f} s "
          f"(wall {session['raw_setup_s']:.2f} s)", file=sys.stderr)
    for i, (raw, p) in enumerate(zip(result["passes"], passes)):
        units = " ".join(f"{n}={t:.2f}" for n, t in p["units"].items())
        print(f"# pass {i}: {p['s']:.2f} s (wall {raw['wall_s']:.2f} s, "
              f"steal {p['steal_s']:.2f} s): {units}", file=sys.stderr)


def trace_metrics(plain: dict, traced: dict, spec: dict, warmup: int) -> dict:
    """Per-layer metrics: the warm passes' median (past the ``warmup``
    passes) under each name, the cold pass under ``cold.<name>``, plus
    session and trace figures."""
    units = {m["name"]: m["unit"] for m in spec["per_layer"]}
    layers = traced["result"]["layers"]
    out = {}
    warm = slice(1 + warmup, None)
    for name in layers[0]:
        out[name] = statistics.median(p[name] for p in layers[warm])
        out[f"cold.{name}"] = layers[0][name]
    ready = traced["ready"]
    out["session.get_spark_s"] = ready["get_spark_s"]
    out["session.first_job_s"] = ready["first_job_s"]
    tp = pass_times(traced)
    _log_passes(traced["result"], tp, traced)
    t = [p["s"] for p in tp]
    u = [p["s"] for p in pass_times(plain)]
    out["host.steal_s"] = statistics.median(p["steal_s"] for p in tp[warm])
    out["cold.host.steal_s"] = tp[0]["steal_s"]
    out["trace.cold_s"] = t[0]
    out["trace.warm_s"] = t[1]
    out["trace.overhead_cold_s"] = t[0] - u[0]
    out["trace.overhead_warm_s"] = t[1] - u[1]
    res = traced["result"]
    out["failed_share"] = len(res["failures"]) / max(1, len(res["units"]))
    return {k: _metric(v, units.get(k, "")) for k, v in out.items()}


if __name__ == "__main__":
    sys.exit(main())
