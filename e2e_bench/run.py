"""End-to-end benchmark of database_syncer_spark.

Run from the root of a checkout:

    python3 e2e_bench/run.py --workload dump_sync --seed 1 --seconds 3 \
        --trace 0

Workloads (see README.md for why each exists):
    dump_sync   compare_sql_files on a seeded mysqldump pair
    cdc_stream  incremental_sync_foreachbatch over a seeded CDC log
    curate      corpus_curate + dedup_embedding_cosine on a seeded corpus

The run generates (or reuses) its seeded inputs, starts one fresh worker
process with one SparkSession, samples the process tree's RSS over
launch, cold and first warm iteration, and prints as its last stdout
line one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` — the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``. The line
before it is a detail record: sample counts, wall times and peak RSS,
every iteration's record, settings and errors.

Everything the run writes stays under ``.e2e_bench/`` in the current
directory; the run directory is emptied first.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
from procs import RssSampler, reap  # noqa: E402

CPUS = 4
DRIVER_MEM = "2g"
#: Per-run ceiling for the worker (the whole run must end within 180 s).
WORKER_TIMEOUT_S = 140


def _settings(root: str, run_dir: str, trace: bool) -> dict:
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    submit = []
    if trace:
        submit += ["--conf", "spark.eventLog.enabled=true",
                   "--conf", "spark.eventLog.dir=file://"
                   + os.path.join(run_dir, "eventlog"),
                   "--conf", "spark.eventLog.compress=false",
                   "--conf", "spark.eventLog.rolling.enabled=false"]
    pythonpath = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    return {
        "PYTHONPATH": pythonpath,
        "SPARK_GRAFT_CPUS": str(min(CPUS, len(os.sched_getaffinity(0)))),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": local,
        # keep the JVMs' temp files and perf data inside the checkout
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "PYSPARK_SUBMIT_ARGS": shlex.join(submit + ["pyspark-shell"]),
    }


def _spawn(cmd: list[str], env: dict, cwd: str,
           rss_mark: str) -> tuple[int, int]:
    """Run one worker in its own session, stop everything it started,
    and return its exit code and the session's peak RSS in bytes until
    the worker creates ``rss_mark``."""
    env = dict(env, E2E_BENCH_T0=repr(time.time()))
    proc = subprocess.Popen(cmd, env=env, cwd=cwd, start_new_session=True,
                            stdout=sys.stderr)
    rss = RssSampler(proc.pid, rss_mark)
    rss.start()
    try:
        code = proc.wait(timeout=WORKER_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        code = -1
    finally:
        rss.stop()
        t = time.time()
        reap(proc.pid)
        proc.wait()
    print(f"reaped worker session in {time.time() - t:.2f} s",
          file=sys.stderr)
    return code, rss.peak


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(gen.SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", default="bench",
                    choices=("tiny", "bench"))
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "database_syncer_spark",
                                       "__init__.py")):
        print("run from the root of a database_syncer_spark checkout",
              file=sys.stderr)
        return 2
    work = os.path.join(root, ".e2e_bench")
    t = time.time()
    inputs = gen.generate(args.workload, args.seed, args.size,
                          os.path.join(work, "inputs"))
    print(f"inputs ready in {time.time() - t:.2f} s", file=sys.stderr)
    run_dir = os.path.join(work, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("tmp", "spark-local", "cwd", "eventlog", "work"):
        os.makedirs(os.path.join(run_dir, sub))
    env = dict(os.environ, **_settings(root, run_dir, bool(args.trace)))
    result_path = os.path.join(run_dir, "result.json")
    rss_mark = os.path.join(run_dir, "rss-done")
    cmd = [sys.executable, os.path.join(HERE, "worker.py"),
           "--workload", args.workload, "--inputs", inputs,
           "--workdir", os.path.join(run_dir, "work"),
           "--eventlog", os.path.join(run_dir, "eventlog"),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--rss-mark", rss_mark, "--out", result_path]
    code, peak_rss = _spawn(cmd, env, os.path.join(run_dir, "cwd"), rss_mark)
    if code != 0 or not os.path.exists(result_path):
        print(f"worker failed with exit code {code}", file=sys.stderr)
        return 1
    with open(result_path) as fh:
        res = json.load(fh)

    its = res["iterations"]
    cold = [r for r in its if r["i"] == 0]
    warm = [r for r in its if r["i"] > 0 and not r["traced"]]

    def med(rows, key):
        return statistics.median(r[key] for r in rows) if rows else 0.0

    if args.trace:
        metrics = {k: {"value": v, "unit": u}
                   for k, (v, u) in sorted(res["layer"].items())}
    else:
        metrics = {
            "setup_s": {"value": res["setup_s"], "unit": "s"},
            "cold_cpu_s": {"value": med(cold, "cpu_s"), "unit": "s"},
            "warm_cpu_s": {"value": med(warm, "cpu_s"), "unit": "s"},
        }
    correct = res["failed"] == 0 and bool(cold) and bool(warm)
    # wall times and memory: printed for every run, but not bounded (see
    # README, "End-to-end metrics")
    info = {
        "cold_s": {"value": med(cold, "wall_s"), "unit": "s",
                   "samples": len(cold)},
        "warm_s": {"value": med(warm, "wall_s"), "unit": "s",
                   "samples": len(warm)},
        "peak_rss_mb": {"value": peak_rss / 2**20, "unit": "MB",
                        "samples": 1},
    }
    batches = res["layer"]["streaming.runner.batches"][0] * len(warm)
    if batches:
        for q in ("p50", "p90"):
            info[f"batch_{q}_ms"] = {
                "value": res["layer"][f"streaming.runner.trigger_{q}_ms"][0],
                "unit": "ms", "samples": int(batches)}
    detail = {
        "workload": args.workload, "seed": args.seed, "size": args.size,
        "samples": {"setup_s": 1, "cold_cpu_s": len(cold),
                    "warm_cpu_s": len(warm)},
        "info": info,
        "iterations": its,
        "closed_loop_clients": 1,
        "settings": {k: env[k] for k in (
            "SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM", "TMPDIR",
            "SPARK_LOCAL_DIRS", "PYTHONPATH", "PYSPARK_SUBMIT_ARGS")},
        "errors": res["errors"],
    }
    print(json.dumps({"detail": detail}))
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
