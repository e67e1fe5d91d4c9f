"""Per-query probe: time individual queries (noop sink, min-of-N) and
dump .explain('formatted') plans.

Usage:
    python scripts/probe.py PLANS_DIR [--runs N] [--plans-suffix before|after]
                            [--plan-only] q1 q2 ...

Each query is built fresh per run (the bench methodology), timed against
the noop sink, and, with --plans-suffix, its formatted plan written to
PLANS_DIR/<name>_<suffix>.txt (e.g. PLANS_DIR=plans/r14). Scratch caches
are released between queries so one query's cached frames never inflate
the next row. The input scale comes from SPARK_GRAFT_SF_DIR.
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
            times = []
            for _ in range(args.runs):
                spark.sparkContext.setJobDescription(f"probe {tag}: {name}")
                df = queries[name](spark, SF_DIR)
                t0 = time.time()
                df.write.format("noop").mode("overwrite").save()
                times.append(time.time() - t0)
            print(
                f"{name}: min={min(times):.3f} all={[round(t, 3) for t in times]}",
                flush=True,
            )
        except Exception as e:  # noqa: BLE001 - one red row, not a dead probe
            print(f"{name}: ERROR {e}", flush=True)
        finally:
            clear_scratch()


if __name__ == "__main__":
    main()
