"""Fresh-session isolation probe of af3_flagship (judge r13 item 2).

Replicates bench.py's exact flagship row: same cached corpus
(_af3_bench_corpus at sf 0.1 -> 100 jobs, scale=6), same action
(interaction_report -> noop sink), same release discipline; one untimed
warmup then N timed runs. Captures .explain("formatted") to
plans/<dir>/af3_flagship_<suffix>.txt with plan-shape counts, and writes
the record to plans/<dir>/isolation_flagship_<suffix>.json.

Usage: python tools/isolate_flagship.py [--runs 6] [--suffix r14opt]
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402

from process_alphafold3_outputs_spark.params import ScreenParams  # noqa: E402
from process_alphafold3_outputs_spark.plans.pipeline import (  # noqa: E402
    interaction_report,
)
from process_alphafold3_outputs_spark.session import get_spark  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=6)
    ap.add_argument("--suffix", default="r15close")
    ap.add_argument("--plans-dir", default="plans/r15")
    args = ap.parse_args()

    load0 = os.getloadavg()[0]
    spark = get_spark("flagship-isolate")
    d = bench._af3_bench_corpus(0.1)
    tabs = {
        n: spark.read.parquet(os.path.join(d, f"{n}.parquet"))
        for n in ("predictions", "chains", "pae_long", "atoms")
    }

    def build():
        return interaction_report(
            tabs["predictions"], tabs["chains"], tabs["pae_long"],
            tabs["atoms"], ScreenParams(),
        )

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        build().explain("formatted")
    plan = buf.getvalue()
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    plans_dir = os.path.join(repo, *args.plans_dir.split("/"))
    os.makedirs(plans_dir, exist_ok=True)
    with open(os.path.join(plans_dir, f"af3_flagship_{args.suffix}.txt"), "w") as fh:
        fh.write(plan)
    nodes = bench.plan_node_counts(plan)
    shape = {
        "BroadcastHashJoin_nodes": nodes["BroadcastHashJoin"],
        "SortMergeJoin_nodes": nodes["SortMergeJoin"],
        "CartesianProduct": nodes["CartesianProduct"],
        "PythonEval": nodes["BatchEvalPython"] + nodes["ArrowEvalPython"],
        "Exchange": nodes["Exchange"],
        "BroadcastExchange": nodes["BroadcastExchange"],
    }

    def one() -> float:
        t0 = time.perf_counter()
        build().write.format("noop").mode("overwrite").save()
        el = time.perf_counter() - t0
        spark.catalog.clearCache()
        bench._release_persisted_rdds(spark)
        return round(el, 3)

    one()  # warmup
    walls = [one() for _ in range(args.runs)]
    rec = {
        "runs": walls,
        "min": min(walls),
        "median": round(statistics.median(walls), 3),
        "loadavg_1m_start": round(load0, 2),
        "loadavg_1m_end": round(os.getloadavg()[0], 2),
        "plan_shape": shape,
    }
    with open(
        os.path.join(plans_dir, f"isolation_flagship_{args.suffix}.json"), "w"
    ) as fh:
        json.dump(rec, fh, indent=1)
    print(json.dumps(rec))


if __name__ == "__main__":
    main()
