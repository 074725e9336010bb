"""Paired in-session A/B at BENCH methodology for any env-var-gated
code path (generalizes tools/ab_bench.py, which is spread()-specific).

For each query: arm A (env var UNSET) and arm B (env var SET to "1")
alternate N times each in ONE session — the env var must be read at
plan-build time by the code under test, and the build happens inside
every timed run (exactly like bench.py), so eager-materialization costs
are measured honestly. Interleaving pairs the samples against JVM
warmup / host-load drift.

Usage: python tools/ab_env.py --env SPARK_GRAFT_NO_SPREAD [--runs 4] name [...]
Prints one JSON line per query: medians + per-run walls for both arms.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402

from process_alphafold3_outputs_spark.plans import driver_queries as dq
from process_alphafold3_outputs_spark.plans import driver_queries_af3  # noqa: F401
from process_alphafold3_outputs_spark.plans import driver_queries_ext  # noqa: F401
from process_alphafold3_outputs_spark.plans import driver_queries_files  # noqa: F401
from process_alphafold3_outputs_spark.session import get_spark


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--env", required=True)
    ap.add_argument("--runs", type=int, default=4)
    ap.add_argument("names", nargs="+")
    args = ap.parse_args()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("ab-env")

    for name in args.names:
        fn = dq._QUERIES[name]

        def one_run(set_env: bool) -> float:
            if set_env:
                os.environ[args.env] = "1"
            else:
                os.environ.pop(args.env, None)
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            elapsed = time.perf_counter() - t0
            os.environ.pop(args.env, None)
            spark.catalog.clearCache()
            bench._release_persisted_rdds(spark)
            return round(elapsed, 3)

        one_run(False)  # shared warmup (shuffle dirs, codegen)
        spark.catalog.clearCache()
        bench._release_persisted_rdds(spark)
        unset, setr = [], []
        for _ in range(args.runs):
            unset.append(one_run(False))
            setr.append(one_run(True))
        print(
            json.dumps(
                {
                    "query": name,
                    "env": args.env,
                    "unset_median_s": round(statistics.median(unset), 3),
                    "set_median_s": round(statistics.median(setr), 3),
                    "unset_runs": unset,
                    "set_runs": setr,
                    "loadavg": round(os.getloadavg()[0], 2),
                }
            ),
            flush=True,
        )


if __name__ == "__main__":
    main()
