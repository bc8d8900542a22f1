#!/usr/bin/env python
"""Per-query timing sweep over the WHOLE registry (round-19 optimization
round, guide §1: measure first).

Times every REGISTRY entry at $SPARK_GRAFT_SF_DIR (default sf0.1) with
the noop sink (guide §1.4 — computes every column of every row, no
count-pruning), median of $SPARK_GRAFT_BENCH_REPS (default 3), labeled
jobs (guide §1.5). Prints one JSON line per query plus a sorted summary
so the expensive tail is visible. Each line splits the median into
``build_s`` (the builder call: plan construction plus any eager
collects) and ``exec_s`` (the noop write), and counts the builder's
driver-to-JVM round trips as ``py4j_calls`` and the Spark jobs it
starts (schema inference, eager collects) as ``build_jobs``. ``codegen_compiles``
counts the classes Janino compiled in the reps after the first: it
should read 0, since those reps reuse the first rep's generated code
(``null`` with ``--reps 1``). Reps run back to back, so this sweep
cannot show what an interleaved session evicts from the codegen cache;
perfbench's ``notebook_analytics`` workload does. This is the profiling
harness, not bench.py, whose methodology is unchanged.

Usage: python tools/profile_registry.py [--only name1,name2] [--skip name1,name2] [--reps N]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from streampro_assignment_etl_spark.plans import codegen_compiles, py4j_calls, spark_jobs  # noqa: E402
from streampro_assignment_etl_spark.queries import REGISTRY, release_persisted  # noqa: E402
from streampro_assignment_etl_spark.session import get_spark  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--only", default="")
    ap.add_argument("--skip", default="")
    ap.add_argument("--reps", type=int, default=int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")))
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("profile-registry")
    spark.sparkContext.setLogLevel("ERROR")

    names = list(REGISTRY)
    if args.only:
        only = {s.strip() for s in args.only.split(",") if s.strip()}
        names = [n for n in names if n in only]
    if args.skip:
        skip = {s.strip() for s in args.skip.split(",") if s.strip()}
        names = [n for n in names if n not in skip]

    # Warmup (same rationale as bench.py).
    REGISTRY["pricing_summary"].builder(spark, sf_dir).count()
    release_persisted()

    results: dict[str, float] = {}
    errors: dict[str, str] = {}
    for name in names:
        spec = REGISTRY[name]
        samples, builds, calls, jobs, compiles = [], [], [], [], []
        try:
            for _ in range(args.reps):
                spark.sparkContext.setJobDescription(f"profile: {name}")
                t0 = time.perf_counter()
                with codegen_compiles(spark) as c:
                    with spark_jobs(spark) as j:
                        with py4j_calls(spark) as n:
                            df = spec.builder(spark, sf_dir)
                        builds.append(time.perf_counter() - t0)
                    calls.append(n["calls"])
                    jobs.append(j["jobs"])
                    df.write.format("noop").mode("overwrite").save()
                samples.append(time.perf_counter() - t0)
                compiles.append(c["compiles"])
                release_persisted()
            spark.sparkContext.setJobDescription(None)
            results[name] = round(statistics.median(samples), 3)
            execs = [s - b for s, b in zip(samples, builds)]
            print(json.dumps({
                "query": name,
                "sec": results[name],
                "samples": [round(s, 3) for s in samples],
                "build_s": round(statistics.median(builds), 3),
                "exec_s": round(statistics.median(execs), 3),
                "py4j_calls": int(statistics.median(calls)),
                "build_jobs": int(statistics.median(jobs)),
                "codegen_compiles": sum(compiles[1:]) if len(compiles) > 1 else None,
            }), flush=True)
        except Exception as e:  # noqa: BLE001 — record and keep sweeping
            errors[name] = f"{type(e).__name__}: {e}"[:300]
            print(json.dumps({"query": name, "err": errors[name]}), flush=True)
            release_persisted()

    print("\n=== sorted by median sec ===", flush=True)
    for n, s in sorted(results.items(), key=lambda kv: -kv[1]):
        print(f"{s:8.3f}  {n}")
    print(json.dumps({"total": round(sum(results.values()), 3), "n": len(results), "errors": errors}))


if __name__ == "__main__":
    main()
