"""Paired in-session A/B of the local-mode ``spread()`` repartition.

For each query name: build the DataFrame twice in ONE session — once with
``SPARK_GRAFT_NO_SPREAD`` unset (spread active) and once with it set
(spread inert) — warm both once, then run N interleaved noop-sink
timings (A, B, A, B, ...). Interleaving pairs the samples against JVM
warmup / codegen / host-load drift, which single-query cold-session
probes proved unable to control (same-code reruns moved 0.6 s ↔ 5.3 s).

Usage: python tools/ab_spread.py [--runs 5] name [name ...]
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


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=5)
    ap.add_argument("names", nargs="+")
    args = ap.parse_args()

    sf_dir = os.environ["SPARK_GRAFT_SF_DIR"]
    spark = get_spark("ab-spread")
    reg = dq._QUERIES

    for name in args.names:
        fn = reg[name]
        # spread() reads the env var at plan-BUILD time, so toggling it
        # between builds yields the two physical variants in one session.
        os.environ.pop("SPARK_GRAFT_NO_SPREAD", None)
        df_on = fn(spark, sf_dir)
        os.environ["SPARK_GRAFT_NO_SPREAD"] = "1"
        df_off = fn(spark, sf_dir)
        os.environ.pop("SPARK_GRAFT_NO_SPREAD", None)

        spark.sparkContext.setJobDescription(f"ab:{name}:warmup")
        _noop(df_on)
        _noop(df_off)
        on, off = [], []
        for i in range(args.runs):
            spark.sparkContext.setJobDescription(f"ab:{name}:on:{i}")
            t0 = time.monotonic()
            _noop(df_on)
            on.append(round(time.monotonic() - t0, 3))
            spark.sparkContext.setJobDescription(f"ab:{name}:off:{i}")
            t0 = time.monotonic()
            _noop(df_off)
            off.append(round(time.monotonic() - t0, 3))
        spark.catalog.clearCache()
        bench._release_persisted_rdds(spark)
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
