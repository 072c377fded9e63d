"""One benchmark run of one workload, in a fresh process with one
SparkSession. Started by ``run.py``, which owns the environment (work
dirs, CPU and memory settings, event-log configuration) and stops
whatever the run leaves behind.

Load is a closed loop from one client: an iteration starts only after the
previous one finished and was checked. The first iteration is the cold
one; the rest run until ``--seconds`` of measuring have passed. With
``--trace 1`` the warm iterations alternate untraced / traced, starting
and ending untraced, so the run yields per-layer numbers and the tracing
overhead against itself. Each traced iteration is compared with the mean
of the untraced ones on both sides of it, so the JIT drift from one warm
iteration to the next cancels out of ``trace.overhead_s``.

Usage (normally via run.py):
    python3 e2e_bench/worker.py --workload dump_sync --inputs DIR \
        --workdir DIR --eventlog DIR --seconds 3 --trace 0 \
        --rss-mark FILE --out result.json
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import tracing as tr  # noqa: E402
from procs import session_cpu_s  # noqa: E402
import workloads  # noqa: E402


def _launch():
    from database_syncer_spark.session import get_spark

    spark = get_spark("e2e-bench")
    setup_s = time.time() - float(os.environ["E2E_BENCH_T0"])
    spark.sparkContext.setLogLevel("ERROR")
    return spark, setup_s


def _warm_workers(spark) -> None:
    """One tiny Python-worker job per core: forks the workers and loads
    pandas/pyarrow in them, the fixed part of every cold first job."""
    n = spark.sparkContext.defaultParallelism
    (spark.range(n * 8, numPartitions=n)
     .mapInPandas(lambda it: it, "id long").count())


def run(args) -> dict:
    sid = os.getsid(0)
    spark, setup_s = _launch()
    tracer = tr.Tracer()
    t = time.perf_counter()
    wl = workloads.WORKLOADS[args.workload](spark, args.inputs, args.workdir,
                                            tracer)
    print(f"workload prepared in {time.perf_counter() - t:.2f} s",
          file=sys.stderr)
    # one record per successful iteration: wall and CPU seconds of the
    # process tree
    out = {"setup_s": setup_s, "iterations": [], "attempted": 0,
           "failed": 0, "errors": []}
    windows: dict[int, tuple[float, float]] = {}
    layer = {"session.launch_s": (setup_s, "s")}
    if args.trace:
        t = time.perf_counter()
        _warm_workers(spark)
        layer["session.worker_warm_s"] = (time.perf_counter() - t, "s")

    def iteration(i: int, traced: bool) -> None:
        out["attempted"] += 1
        tracer.enabled, tracer.iteration = traced, i
        wl.begin(i)
        w0, c0 = time.time(), session_cpu_s(sid)
        t0 = time.perf_counter()
        try:
            result = wl.run(traced)
            rec = {"i": i, "traced": traced,
                   "wall_s": time.perf_counter() - t0,
                   "cpu_s": session_cpu_s(sid) - c0}
            tracer.enabled = False
            wl.check(result)
        except Exception as e:  # a failed run or check: count it, go on
            tracer.enabled = False
            out["failed"] += 1
            out["errors"].append(f"iteration {i}: {type(e).__name__}: {e}")
            traceback.print_exc(file=sys.stderr)
            return
        finally:
            wl.cleanup()
        out["iterations"].append(rec)
        if traced:
            windows[i] = (w0, w0 + rec["wall_s"])

    iteration(0, traced=False)
    start, i = time.perf_counter(), 0
    while True:
        i += 1
        iteration(i, traced=bool(args.trace) and i % 2 == 0)
        if i == 1:
            # run.py samples peak RSS over a fixed amount of work (launch,
            # cold and one warm iteration): the iteration count of a timed
            # run varies
            open(args.rss_mark, "w").close()
        measured = time.perf_counter() - start >= args.seconds
        # a trace run needs one traced iteration with a good untraced one
        # on each side; give up after a few attempts when iterations keep
        # failing
        if measured and (not args.trace or _overheads(out) or i >= 9):
            break
    untraced = [r for r in out["iterations"]
                if r["i"] > 0 and not r["traced"]]
    # micro-batch progress of the untraced warm iterations (cdc_stream)
    layer.update(wl.layer_metrics([r["i"] for r in untraced]))
    if args.trace:
        traced_wall = [r["wall_s"] for r in out["iterations"] if r["traced"]]
        over = _overheads(out)
        layer.update(tr.span_metrics(tracer, sorted(windows)))
        layer["trace.overhead_s"] = (
            statistics.median(over) if over else 0.0, "s")
        layer["trace.traced_iteration_s"] = (
            statistics.median(traced_wall) if traced_wall else 0.0, "s")
        layer["trace.span_cover"] = (tr.span_cover(tracer, windows), "ratio")
    t = time.perf_counter()
    spark.stop()
    print(f"session stopped in {time.perf_counter() - t:.2f} s",
          file=sys.stderr)
    if args.trace:
        layer.update(tr.spark_metrics(args.eventlog, tracer.spans, windows))
    out["layer"] = layer
    return out


def _overheads(out: dict) -> list[float]:
    """Wall time of each traced iteration minus the mean of the untraced
    iterations just before and after it (those that succeeded)."""
    wall = {r["i"]: r["wall_s"] for r in out["iterations"]}
    return [wall[i] - (wall[i - 1] + wall[i + 1]) / 2
            for r in out["iterations"] if r["traced"]
            for i in [r["i"]] if i - 1 in wall and i + 1 in wall]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--inputs", required=True)
    ap.add_argument("--workdir", required=True)
    ap.add_argument("--eventlog", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, required=True)
    ap.add_argument("--rss-mark", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args(argv)
    result = run(args)
    with open(args.out, "w") as fh:
        json.dump(result, fh)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
