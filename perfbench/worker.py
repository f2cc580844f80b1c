"""One benchmark run of one workload in a fresh Spark process.

Started by ``run.py``, which samples this process tree's memory from
outside; writes its raw measurements as JSON to ``--out``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--setup-reps", type=int, required=True, help="set-ups; setup_s uses their median")
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--t0", type=float, required=True, help="time.monotonic() at process spawn")
    args = ap.parse_args()

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from spans import Tracer
    from workloads import WORKLOADS, CheckFailed

    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "session.json")) as fh:
        sconf = json.load(fh)
    conf = dict(sconf["conf"])
    conf["spark.local.dir"] = os.path.join(args.run_dir, "local")
    conf["spark.sql.warehouse.dir"] = os.path.join(args.run_dir, "warehouse")
    conf["spark.driver.extraJavaOptions"] = (
        f"{sconf['driver_java_options']} -Djava.io.tmpdir={os.path.join(args.run_dir, 'tmp')}"
        " -XX:-UsePerfData"
    )
    if args.trace:
        conf.update(sconf["traced_conf"])
        conf["spark.eventLog.dir"] = "file://" + os.path.join(args.run_dir, "eventlog")
        conf["spark.driver.extraJavaOptions"] += f" -Xlog:gc:file={os.path.join(args.run_dir, 'gc.log')}"

    from geo_index_spark.session import get_spark

    t_sess = time.time()
    spark = get_spark(
        f"perfbench-{args.workload}",
        master=sconf["master"],
        shuffle_partitions=sconf["shuffle_partitions"],
        extra_conf=conf,
    )
    session_wall = time.time() - t_sess
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    session_s = time.monotonic() - args.t0
    tracer = Tracer(sc, bool(args.trace))

    parts = [P(spark, args.seed, os.path.join(args.run_dir, "work", P.__name__))
             for P in WORKLOADS[args.workload]]
    setup_reps = []
    for _ in range(args.setup_reps):
        t = time.monotonic()
        for p in parts:
            p.setup()
        setup_reps.append(time.monotonic() - t)
    t = time.monotonic()
    for p in parts:
        p.warmup()
    warmup_s = time.monotonic() - t

    ops: list[dict] = []

    def record(span: str, rows: int, fn, query: bool = False) -> bool:
        """Time one call; returns whether it completed without failing."""
        with tracer.span(span) as rec:
            t = time.perf_counter()
            try:
                n, ok = fn()
            except Exception:  # a raising call is a failed operation
                traceback.print_exc(limit=3)
                n, ok = None, False
            dt = time.perf_counter() - t
        rec["rows_out"] = n
        ops.append({"span": span, "wall_s": dt, "rows": rows, "ok": bool(ok), "query": query})
        return bool(ok)

    iterations = []
    t_body = time.perf_counter()
    while True:
        first = len(ops)
        t = time.perf_counter()
        for p in parts:
            p.run(record)
        wall = time.perf_counter() - t
        batch = [o for o in ops[first:] if not o["query"]]
        iterations.append(
            {"wall_s": wall, "batch_s": sum(o["wall_s"] for o in batch),
             "rows": sum(o["rows"] for o in batch)}
        )
        if time.perf_counter() - t_body >= args.seconds:
            break
    body_s = time.perf_counter() - t_body

    check_errors: dict[str, str] = {}

    def run_check(span: str, fn) -> None:
        try:
            fn()
        except CheckFailed as e:
            check_errors.setdefault(span, str(e))
        except Exception:  # a check that cannot run counts as failed
            check_errors.setdefault(span, traceback.format_exc(limit=3))

    t = time.monotonic()
    for p in parts:
        p.check(run_check)
    print(f"[perfbench] session {session_s:.2f} s, setup {[round(s, 2) for s in setup_reps]} s, "
          f"warm-up {warmup_s:.2f} s, body {body_s:.2f} s, checks {time.monotonic() - t:.2f} s",
          file=sys.stderr, flush=True)
    by_span: dict[str, list[float]] = {}
    for o in ops:
        by_span.setdefault(o["span"], []).append(o["wall_s"])
    for span, w in by_span.items():
        print(f"[perfbench]   {span}: {len(w)} calls, {sum(w):.2f} s, median {statistics.median(w):.3f} s",
              file=sys.stderr)
    for o in ops:
        if o["span"] in check_errors:
            o["ok"] = False
    for span, msg in check_errors.items():
        print(f"[perfbench] check failed: {span}: {msg}", file=sys.stderr)

    result = {
        "session_wall_s": session_wall,
        "setup_s": session_s + statistics.median(setup_reps),
        "iterations": iterations,
        "ops": ops,
        "spans": tracer.spans,
    }
    with open(args.out, "w") as fh:
        json.dump(result, fh)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
