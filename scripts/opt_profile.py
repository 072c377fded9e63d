#!/usr/bin/env python
"""Optimization-round instrumentation (guide §1): per-key wall time
under the bench's noop-sink discipline PLUS the Spark-side shape
counters the guide says to read before changing anything — jobs,
stages, tasks per execution — and the formatted physical plan, dumped
to plans/<round>/ (--round, default r13).

The bench reports seconds; this reports WHY: at fixture scale (5 k docs,
600 k lineitem) most multi-second keys are stage-count-bound, so the
job/stage/task triple is the profile. Counters are collected via
setJobGroup + statusTracker over the LAST timed rep only.

Usage:
  python scripts/opt_profile.py [sf_dir] [--keys k1,k2] [--reps N]
                                [--plans before|after|none] [--round rNN]
Writes scripts/opt_profile_<tag>.json and plans/<round>/<key>_<plans>.txt.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    sf_dir = "/root/testdata/sf0.1"
    only = None
    reps = 2
    plans = "none"
    rnd = "r13"
    args = sys.argv[1:]
    while args:
        a = args.pop(0)
        if a == "--keys":
            only = args.pop(0).split(",")
        elif a == "--reps":
            reps = int(args.pop(0))
            if reps < 1:
                raise SystemExit("--reps must be >= 1")
        elif a == "--plans":
            plans = args.pop(0)
        elif a == "--round":
            rnd = args.pop(0)
        else:
            sf_dir = a

    from database_syncer_spark.session import get_spark
    from database_syncer_spark.registry import all_queries

    spark = get_spark("opt_profile")
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    queries = all_queries()

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    plans_dir = os.path.join(here, "plans", rnd)
    if plans != "none":
        os.makedirs(plans_dir, exist_ok=True)

    # same session warmups as bench.py so key 1 isn't charged session costs
    spark.read.parquet(os.path.join(sf_dir, "region.parquet")).count()
    spark.range(0, 64, 1, 32).mapInPandas(lambda it: it, "id long").count()

    out: dict[str, dict] = {}
    for key, fn in queries.items():
        if only and key not in only:
            continue
        sc.setJobDescription(key)

        def run() -> float:
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            return time.perf_counter() - t0

        try:
            run()  # warmup: codegen/JIT + page cache + staged sources
            times = []
            for r in range(reps):
                group = f"{key}__rep{r}"
                sc.setJobGroup(group, key)
                times.append(run())
            # Detach later jobs from the last rep's group via the JVM's
            # clearJobGroup: setJobGroup(None, None) leaned on
            # undocumented None pass-through in a str-typed API and
            # would crash mid-run if a future PySpark validates args
            # (ADVICE r12). ``_jsc`` is private, so without it unset the
            # group through the public local-property API instead.
            if hasattr(sc, "_jsc"):
                sc._jsc.clearJobGroup()
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
            st = sc.statusTracker()
            job_ids = st.getJobIdsForGroup(group)
            n_stages = n_tasks = 0
            for j in job_ids:
                ji = st.getJobInfo(j)
                if ji is None:
                    continue
                for s in ji.stageIds:
                    si = st.getStageInfo(s)
                    if si is not None:
                        n_stages += 1
                        n_tasks += si.numTasks
            rec = {
                "sec": [round(t, 3) for t in sorted(times)],
                "jobs": len(job_ids),
                "stages": n_stages,
                "tasks": n_tasks,
            }
        except Exception as exc:  # noqa: BLE001
            rec = {"err": f"{type(exc).__name__}: {exc}"[:300]}
        if plans != "none" and "err" not in rec:
            # separate try: a plan-dump failure (private-API drift,
            # plans-dir write error) must not discard timings the run
            # just spent minutes collecting
            try:
                df = fn(spark, sf_dir)
                txt = df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted")
                with open(os.path.join(plans_dir, f"{key}_{plans}.txt"),
                          "w", encoding="utf-8") as fh:
                    fh.write(txt)
            except Exception as exc:  # noqa: BLE001
                rec["plan_err"] = f"{type(exc).__name__}: {exc}"[:200]
        out[key] = rec
        print(f"{key:32s} {rec}", flush=True)

    tag = os.path.basename(sf_dir.rstrip("/"))
    path = os.path.join(here, "scripts", f"opt_profile_{tag}.json")
    with open(path, "w", encoding="utf-8") as fh:
        json.dump(out, fh, indent=1)
    print("wrote", path)


if __name__ == "__main__":
    main()
