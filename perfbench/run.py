"""Benchmark entry point. Run from the repository root:

    python3 perfbench/run.py --workload geojoin --seed 1 --seconds 10 --trace 0

Runs one workload in a fresh local[4] Spark process (``worker.py``),
samples that process tree's resident memory from /proc, checks the
outputs, and prints every metric by name and unit. The last line of
standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0``
the metrics are the end-to-end ones, with ``--trace 1`` the per-layer
ones. A traced invocation first makes an untraced run of the same
workload and seed, then the traced run; the tracing overhead is the
traced run_s minus the untraced one.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from spans import SPAN_METRICS, median_of, parse_event_log, span_profiles  # noqa: E402
from workloads import WORKLOADS, KnnJoin  # noqa: E402

DEADLINE_S = 175.0  # whole invocation, traced runs included
# set-ups per worker run; setup_s is their median. A traced invocation
# reports no setup_s, so its two worker runs set up once each.
SETUP_REPS = 3
BATCH_SPANS = (
    "join.spatial_join",
    "pip.point_in_polygon_join",
    "partitioning.hilbert_partition",
    "tiling.tile_assign",
    "knn.knn_join.smallleft",
    "textops.dedup.minhash_near_dup_pairs",
    "textops.dedup.minhash_near_dup_pairs_fast",
    "textops.ann.lsh_cosine_near_dup_pairs_fast",
    "pipeline.run_webgeo_pipeline",
)
# query calls of the closed loop: p50 latency, and the Python-worker
# time of those that evaluate Python
QUERY_SPANS = (
    "search.kd_range",
    "search.within",
    "knn.knn",
    "localbuild.search_partition_indexes",
    "localbuild.knn_partition_indexes",
)
PYTHON_QUERY_SPANS = (
    "localbuild.search_partition_indexes",
    "localbuild.knn_partition_indexes",
)
# one line per GC pause of -Xlog:gc: "... Pause Young (...) 812M->95M(4096M) 7.123ms"
GC_PAUSE = re.compile(r"Pause .* (\d+)([KMG])->(\d+)([KMG])\(\d+[KMG]\) ([\d.]+)ms")
# useful-work ratios: (metric, span, numerator, denominator) where
# "join_rows" is the output of the span's join nodes (event-log SQL
# metrics) and "rows_out" the row count of the call's result
RATIOS = (
    ("knn.knn_join.smallleft.candidates_per_result", "knn.knn_join.smallleft", "join_rows", "rows_out"),
    ("textops.dedup.minhash_near_dup_pairs.pairs_per_candidate",
     "textops.dedup.minhash_near_dup_pairs", "rows_out", "join_rows"),
)
LEFTS = {"knn.knn_join.smallleft": KnnJoin.LEFTS}


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def meminfo_mb(key: str) -> float:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith(key + ":"):
                return int(line.split()[1]) / 1024.0
    raise KeyError(key)


def cpu_ticks() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(v) for v in fh.readline().split()[1:]]


def loadavg() -> str:
    with open("/proc/loadavg") as fh:
        return " ".join(fh.read().split()[:3])


def _exe(pid: int) -> str | None:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return None


def tree_rss_mb(root: int) -> float:
    """Resident memory of ``root`` and all its descendants. The JVM
    starts a process through a child that shares the JVM's memory until
    it execs; that child reads as a second JVM-sized process, so a java
    child of a java process is counted as no memory (its descendants
    are counted)."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                s = fh.read()
        except OSError:
            continue
        ppid = int(s[s.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(d))
    page = os.sysconf("SC_PAGE_SIZE")
    total, stack = 0, [(root, None)]
    while stack:
        p, parent_exe = stack.pop()
        exe = _exe(p)
        try:
            with open(f"/proc/{p}/statm") as fh:
                rss = int(fh.read().split()[1]) * page
        except OSError:
            continue
        if not (exe and exe == parent_exe and os.path.basename(exe) == "java"):
            total += rss
        stack.extend((c, exe) for c in children.get(p, ()))
    return total / 1e6


def run_worker(args, trace: int, run_dir: str, deadline: float) -> tuple[dict, float]:
    """Run one worker process to completion; returns its measurements
    and the peak RSS of its process tree in MB."""
    for sub in ("local", "tmp", "eventlog"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    out = os.path.join(run_dir, "result.json")
    env = dict(os.environ)
    env.update(
        PYTHONPATH=os.getcwd(),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"),
        TMPDIR=os.path.join(run_dir, "tmp"),
        SPARK_LAUNCHER_OPTS="-XX:-UsePerfData",
        SPARK_GRAFT_CPUS="4",
        PYTHONDONTWRITEBYTECODE="1",
    )
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(trace),
        "--setup-reps", str(1 if args.trace else SETUP_REPS),
        "--run-dir", run_dir, "--out", out,
    ]
    t0 = time.monotonic()
    proc = subprocess.Popen(
        cmd + ["--t0", repr(t0)], cwd=run_dir, env=env,
        stdout=sys.stderr, stderr=sys.stderr, start_new_session=True,
    )
    peak = 0.0
    try:
        while proc.poll() is None:
            peak = max(peak, tree_rss_mb(proc.pid))
            if time.monotonic() > deadline:
                raise TimeoutError(f"worker exceeded the {DEADLINE_S:.0f} s deadline")
            time.sleep(0.2)
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        # the JVM and Python workers share the worker's session
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    if proc.returncode != 0:
        raise RuntimeError(f"worker exited with code {proc.returncode}")
    with open(out) as fh:
        return json.load(fh), peak


def end_to_end(res: dict, peak_mb: float) -> dict:
    it = res["iterations"]
    return {
        "setup_s": (res["setup_s"], "s"),
        "run_s": (run_s(res), "s"),
        "rows_per_s": (statistics.median(i["rows"] / i["batch_s"] for i in it), "1/s"),
        "peak_rss_mb": (peak_mb, "MB"),
    }


def query_latency_ms(res: dict) -> tuple[float, float]:
    """p50 and p80 of the closed-loop query latencies of a run, 0 for a
    workload without queries. p80 is the highest decile with at least
    ten of the 56 samples beyond it."""
    lat = [o["wall_s"] * 1000.0 for o in res["ops"] if o["query"]]
    if len(lat) < 2:
        return 0.0, 0.0
    return statistics.median(lat), statistics.quantiles(lat, n=10)[7]


def gc_figures(path: str) -> tuple[float, float]:
    """Peak heap in use just after a GC pause (the live data the
    program holds, not the heap size the benchmark fixes), in MB, and
    the total pause time in s, from a -Xlog:gc file."""
    scale = {"K": 1 / 1024, "M": 1.0, "G": 1024.0}
    live, pause = 0.0, 0.0
    with open(path) as fh:
        for line in fh:
            m = GC_PAUSE.search(line)
            if m:
                live = max(live, int(m.group(3)) * scale[m.group(4)])
                pause += float(m.group(5)) / 1000.0
    return live, pause


def run_s(res: dict) -> float:
    return statistics.median(i["wall_s"] for i in res["iterations"])


def per_layer(res: dict, untraced: dict, run_dir: str) -> dict:
    """Per-layer metrics of the traced run ``res``; the query latencies
    and the tracing overhead also use the untraced run."""
    prof = span_profiles(res["spans"], parse_event_log(os.path.join(run_dir, "eventlog")))
    out: dict[str, tuple[float, str]] = {}
    units = {"driver_s": "s", "jobs": "count", "task_s": "s", "python_s": "s",
             "python_init_s": "s", "shuffle_write_mb": "MB", "spill_mb": "MB"}
    for span in BATCH_SPANS:
        p = prof.get(span)
        out[f"{span}.wall_s"] = (median_of(p, "wall_s") if p else 0.0, "s")
        for m in SPAN_METRICS:
            out[f"{span}.{m}"] = (median_of(p, m) if p else 0.0, units[m])
    for name, span, num, den in RATIOS:
        p = [x for x in prof.get(span, ()) if x[den] and x[num] is not None]
        out[name] = (statistics.median(x[num] / x[den] for x in p) if p else 0.0, "ratio")
    for span in QUERY_SPANS:
        p = prof.get(span)
        out[f"{span}.p50_ms"] = (median_of(p, "wall_s") * 1000.0 if p else 0.0, "ms")
    for span in PYTHON_QUERY_SPANS:
        p = prof.get(span)
        out[f"{span}.python_s"] = (median_of(p, "python_s") if p else 0.0, "s")
    for span, lefts in LEFTS.items():
        p = prof.get(span)
        out[f"{span}.s_per_left"] = (median_of(p, "wall_s") / lefts if p else 0.0, "s")
    out["session.get_spark.wall_s"] = (res["session_wall_s"], "s")
    live, pause = gc_figures(os.path.join(run_dir, "gc.log"))
    out["session.jvm.heap_live_peak_mb"] = (live, "MB")
    out["session.jvm.gc_pause_s"] = (pause, "s")
    p50, p80 = query_latency_ms(untraced)
    out["bench.query_p50_ms"] = (p50, "ms")
    out["bench.query_p80_ms"] = (p80, "ms")
    out["bench.trace_overhead_s"] = (run_s(res) - run_s(untraced), "s")
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_start = time.monotonic()
    # a terminated benchmark still stops its worker (see run_worker)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "geo_index_spark", "__init__.py")):
        log(f"no geo_index_spark package under {root}; run from the repository root")
        return 2

    with open(os.path.join(HERE, "session.json")) as fh:
        need = json.load(fh)["need_free_mb"]
    free_ram = meminfo_mb("MemAvailable")
    free_disk = shutil.disk_usage(root).free / 2**20
    if free_ram < need["ram"] or free_disk < need["disk"]:
        log(f"not enough free resources: RAM {free_ram:.0f} MB (need {need['ram']}), "
            f"disk {free_disk:.0f} MB (need {need['disk']})")
        print(json.dumps({"correct": False, "attempted": 1, "failed": 1, "metrics": {}}))
        return 1

    base = os.path.join(root, ".perfbench_run")
    run_dir = os.path.join(base, f"{os.getpid()}")
    ticks0, load0 = cpu_ticks(), loadavg()
    try:
        deadline = t_start + DEADLINE_S
        traced = None
        res, peak = run_worker(args, 0, os.path.join(run_dir, "untraced"), deadline)
        if args.trace:
            # same workload, seed and code as the untraced run just made
            traced, _ = run_worker(args, 1, os.path.join(run_dir, "traced"), deadline)
            metrics = per_layer(traced, res, os.path.join(run_dir, "traced"))
        else:
            metrics = end_to_end(res, peak)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass
    ticks1 = cpu_ticks()
    d = [b - a for a, b in zip(ticks0, ticks1)]
    steal = 100.0 * d[7] / max(1, sum(d))  # diagnosis only, never a filter

    runs = [r for r in (res, traced) if r is not None]
    ops = [o for r in runs for o in r["ops"]]
    failed = sum(not o["ok"] for o in ops)
    print(f"workload {args.workload} seed {args.seed}: {len(runs[-1]['iterations'])} timed iterations, "
          f"{len(ops)} operations, failed_ratio {failed / len(ops):.4f}")
    print(f"host: loadavg {load0} -> {loadavg()}, steal {steal:.2f}%")
    p50, p80 = query_latency_ms(runs[0])
    if p50:
        print(f"queries: p50 {p50:.1f} ms, p80 {p80:.1f} ms")
    for name, (v, unit) in metrics.items():
        print(f"  {name} = {v:.6g} {unit}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
