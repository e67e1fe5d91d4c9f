"""Per-query probe: time individual queries (noop sink, min-of-N), count
the Spark jobs each launches while its DataFrame is built, and dump
.explain('formatted') plans.

Usage:
    python scripts/probe.py PLANS_DIR [--runs N] [--plans-suffix before|after]
                            [--plan-only] q1 q2 ...

Each query is built fresh per run (the bench methodology), after its
scratch caches are released, so every run builds against a cold scratch
cache. The operator call runs under its own job group; the jobs Spark
records for that group (driver-side counts, cache fills, iterative loops)
print as ``build_jobs`` and the call's wall time as ``build_s``, one
entry per run, next to the noop-sink times (which start after the build).
With --plans-suffix the formatted plan is written to
PLANS_DIR/<name>_<suffix>.txt (e.g. PLANS_DIR=plans/r14). The input
scale comes from SPARK_GRAFT_SF_DIR.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

from collimate_spark.operators import all_queries  # noqa: E402
from collimate_spark.scratch import clear_scratch  # noqa: E402
from collimate_spark.session import get_session  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("plans_dir", help="directory the formatted plans are written to")
    ap.add_argument("names", nargs="+", metavar="query")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--plans-suffix", help="write PLANS_DIR/<query>_<suffix>.txt")
    ap.add_argument("--plan-only", action="store_true", help="write plans, skip timing")
    args = ap.parse_args()
    tag = os.path.basename(os.path.normpath(args.plans_dir))
    spark = get_session(f"collimate_spark_probe_{tag}")
    sc = spark.sparkContext
    queries = all_queries()
    # warm-up: JVM + parquet footer caches (same as bench.py)
    queries["q6_forecast_revenue"](spark, SF_DIR).count()
    if args.plans_suffix:
        os.makedirs(args.plans_dir, exist_ok=True)
    for name in args.names:
        try:
            if args.plans_suffix:
                df = queries[name](spark, SF_DIR)
                plan = df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"
                )
                path = os.path.join(args.plans_dir, f"{name}_{args.plans_suffix}.txt")
                with open(path, "w") as f:
                    f.write(plan)
            if args.plan_only:
                print(f"{name}: plan written", flush=True)
                continue
            times, build_s, groups = [], [], []
            for i in range(args.runs):
                clear_scratch()
                groups.append(f"probe-build:{name}:{i}")
                sc.setJobGroup(groups[-1], f"probe {tag}: build {name}")
                t0 = time.time()
                df = queries[name](spark, SF_DIR)
                build_s.append(round(time.time() - t0, 3))
                sc.setJobGroup(f"probe-run:{name}:{i}", f"probe {tag}: {name}")
                t0 = time.time()
                df.write.format("noop").mode("overwrite").save()
                times.append(time.time() - t0)
            # job starts reach the status store through the async listener bus
            sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
            build_jobs = [len(sc.statusTracker().getJobIdsForGroup(g)) for g in groups]
            print(
                f"{name}: min={min(times):.3f} all={[round(t, 3) for t in times]} "
                f"build_s={build_s} build_jobs={build_jobs}",
                flush=True,
            )
        except Exception as e:  # noqa: BLE001 - one red row, not a dead probe
            print(f"{name}: ERROR {e}", flush=True)
        finally:
            clear_scratch()


if __name__ == "__main__":
    main()
