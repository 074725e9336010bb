"""Paired A/B at BENCH methodology (build + noop inside the timed
region, caches released between runs) for the local-mode ``spread()``
knob. For each query: alternate arm A (spread active) and arm B
(``SPARK_GRAFT_NO_SPREAD=1``) runs N times each in one session —
``spread()`` reads the env var at plan-build time and the build happens
inside every timed run (exactly like bench.py), so staged pipelines
whose cost sits in eager persist materialization are measured honestly.

Usage: python tools/ab_bench.py [--runs 4] name [name ...]
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
    ap.add_argument("--runs", type=int, default=4)
    ap.add_argument("names", nargs="+")
    args = ap.parse_args()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("ab-bench")

    for name in args.names:
        fn = dq._QUERIES[name]

        def one_run(no_spread: bool) -> float:
            if no_spread:
                os.environ["SPARK_GRAFT_NO_SPREAD"] = "1"
            else:
                os.environ.pop("SPARK_GRAFT_NO_SPREAD", None)
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            elapsed = time.perf_counter() - t0
            os.environ.pop("SPARK_GRAFT_NO_SPREAD", None)
            spark.catalog.clearCache()
            bench._release_persisted_rdds(spark)
            return round(elapsed, 3)

        one_run(False)  # shared warmup (shuffle dirs, codegen)
        spark.catalog.clearCache()
        bench._release_persisted_rdds(spark)
        on, off = [], []
        for _ in range(args.runs):
            on.append(one_run(False))
            off.append(one_run(True))
        print(
            json.dumps(
                {
                    "query": name,
                    "spread_on_median_s": round(statistics.median(on), 3),
                    "spread_off_median_s": round(statistics.median(off), 3),
                    "on_runs": on,
                    "off_runs": off,
                    "loadavg": round(os.getloadavg()[0], 2),
                }
            ),
            flush=True,
        )


if __name__ == "__main__":
    main()
