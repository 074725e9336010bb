"""af3spark benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. One process, ``local[nproc]``, a closed
loop of one pass at a time. Inputs are generated from the seed (cached
under ``.perfbench_work/``, never timed), then untimed warm-up passes
run before any timed one.

``--trace 0`` times passes for ``--seconds`` and prints the end-to-end
metrics. ``--trace 1`` turns on the Spark UI, runs one untraced pass,
then replays the pass layer by layer (one job group and span per call)
and prints the per-layer metrics; its spans go to
``.perfbench_work/spans-<workload>-<seed>.json``.

Every pass's outputs are checked; a pass that raises or whose outputs
differ counts as failed. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; the line before it is
a longer report (per-workload names, sample counts, host load).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

#: end-to-end metric -> unit; every timed run reports all of them
END_TO_END = {
    "setup_s": "s",
    "items_per_s": "1/s",
    "pass_p50_s": "s",
    "peak_rss_mb": "MB",
    "stored_bytes_ratio": "ratio",
}


def process_start() -> float:
    """Wall-clock time this process started, from /proc."""
    with open("/proc/self/stat") as fh:
        ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as fh:
        btime = next(int(line.split()[1]) for line in fh if line.startswith("btime"))
    return btime + ticks / os.sysconf("SC_CLK_TCK")


def configure_env(trace: bool) -> dict:
    """Host-sized session settings, all through the environment the
    program's ``session.get_spark`` reads; every scratch path inside the
    work directory."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        # 1g, not the program's 16g default: the inputs are small, and a
        # heap that fills early keeps the JVM's resident size from
        # drifting with heap growth from pass to pass
        "SPARK_DRIVER_MEM": "1g",
        "SPARK_GRAFT_UI": "true" if trace else "false",
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        "TMPDIR": tmp,
        "PYTHONPATH": os.pathsep.join([ROOT, HERE] + [
            p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]),
        "PYSPARK_SUBMIT_ARGS": " ".join([
            "--conf spark.ui.showConsoleProgress=false",
            "--conf spark.driver.host=127.0.0.1",
            f"--conf spark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')}",
            f"--driver-java-options -Djava.io.tmpdir={tmp}",
            "pyspark-shell",
        ]),
    }
    os.environ.update(env)
    return {"cpus": cpus, "heap": env["SPARK_DRIVER_MEM"],
            "loadavg": os.getloadavg()}


def tree_rss_bytes(pid: int) -> int:
    """Resident memory of ``pid`` and its JVM and Python descendants. A
    JVM child between fork and exec (named after the forking thread)
    shares the JVM's pages and is skipped, or it would count them twice."""
    total, todo = 0, [pid]
    while todo:
        p = todo.pop()
        try:
            with open(f"/proc/{p}/comm") as fh:
                comm = fh.read()
            if p == pid or comm.startswith(("java", "python")):
                with open(f"/proc/{p}/statm") as fh:
                    total += int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
            for task in os.listdir(f"/proc/{p}/task"):
                with open(f"/proc/{p}/task/{task}/children") as fh:
                    todo.extend(int(c) for c in fh.read().split())
        except (FileNotFoundError, ProcessLookupError):
            continue
    return total


class PeakRss:
    """Samples the process tree's resident memory every 50 ms."""

    def __init__(self) -> None:
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(os.getpid()))
            self._stop.wait(0.05)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def tail_percentile(n: int) -> float | None:
    """Highest percentile with at least 10 of ``n`` samples beyond it."""
    return 100.0 * (n - 10) / n if n > 10 else None


class Runner:
    def __init__(self, wl, spark) -> None:
        self.wl = wl
        self.spark = spark
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self._n = 0

    def out_dir(self) -> str:
        self._n += 1
        path = os.path.join(WORK, "out", f"{self.wl.name}-{os.getpid()}-{self._n}")
        shutil.rmtree(path, ignore_errors=True)
        return path

    def one_pass(self, count: bool = True) -> dict:
        """One timed pass, then its check and the release of what it left
        cached. Returns wall time, bytes written and persisted leftovers."""
        from workloads import dir_bytes, release

        out = self.out_dir()
        t = time.perf_counter()
        try:
            result = self.wl.run_pass(self.spark, out)
            ok = True
        except Exception:  # a failed pass is counted, the run goes on
            traceback.print_exc()
            result, ok = None, False
        wall = time.perf_counter() - t
        left = release(self.spark)
        if ok:
            problems = self.wl.problems(out, result)
            if count:
                self.problems += problems
            ok = not problems
        rec = {"wall": wall, "ok": ok, "persisted_left": left,
               "out_bytes": dir_bytes(out) if ok else 0}
        shutil.rmtree(out, ignore_errors=True)
        if count:
            self.attempted += 1
            self.failed += not ok
        return rec


def timed_run(runner: Runner, seconds: float, setup_s: float) -> tuple[dict, dict]:
    wl = runner.wl
    passes = []
    with PeakRss() as rss:
        start = time.perf_counter()
        while not passes or time.perf_counter() - start < seconds:
            passes.append(runner.one_pass())
    walls = [p["wall"] for p in passes]
    items = wl.meta["items"]
    ratios = [p["out_bytes"] / wl.meta["input_bytes"] for p in passes if p["ok"]] or [0.0]
    values = {
        "setup_s": setup_s,
        "items_per_s": items * len(walls) / sum(walls),
        "pass_p50_s": statistics.median(walls),
        "peak_rss_mb": rss.peak / (1 << 20),
        "stored_bytes_ratio": statistics.median(ratios),
    }
    metrics = {name: (values[name], unit) for name, unit in END_TO_END.items()}
    pct = tail_percentile(len(walls))
    detail = {
        f"{wl.item}s_per_s": values["items_per_s"],
        "pass_walls_s": walls,
        "n_passes": len(walls),
        "pass_tail_s": (None if pct is None else
                        statistics.quantiles(walls, n=100, method="inclusive")[int(pct) - 1]),
        "tail_percentile": pct,
        "failed_share": runner.failed / runner.attempted,
        "persisted_left": [p["persisted_left"] for p in passes],
    }
    return metrics, detail


def traced_run(runner: Runner, setup_s: float, seed: int) -> tuple[dict, dict]:
    import layers
    import tracing
    from workloads import LayerRecorder, release

    spark, wl = runner.spark, runner.wl
    sc = spark.sparkContext
    tracer = tracing.Tracer()
    rest = tracing.SparkRest(sc)

    with tracer.span("pass", trace_id="pass"):
        sc.setJobGroup("pass", "pass")
        untraced = runner.one_pass()
        sc.setLocalProperty("spark.jobGroup.id", None)

    out = runner.out_dir()
    rec = LayerRecorder(spark, tracer, "replay")
    t = time.perf_counter()
    with tracer.span("replay", trace_id="replay"):
        try:
            problems = wl.replay(spark, rec, out)
        except Exception:
            traceback.print_exc()
            problems = ["replay raised"]
        finally:
            rec.unpersist()
    replay_s = time.perf_counter() - t
    release(spark)
    shutil.rmtree(out, ignore_errors=True)
    runner.attempted += 1
    runner.failed += bool(problems)
    runner.problems += problems

    rest.settle(["pass"] + [g for gs in rec.groups.values() for g in gs])
    snap = rest.snapshot()
    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    metrics = layers.layer_metrics(snap, rec, cores)
    metrics.update(layers.cli_metrics(snap, wl, untraced, cores))
    metrics["session.exec_s"] = setup_s
    # the replay also writes the ingest layout, which the pass does not
    ingest_s = rec.values.get("plans.ingest", {}).get("exec_s", 0.0)
    metrics["trace.overhead"] = (replay_s - ingest_s) / untraced["wall"] - 1.0
    tracer.write(os.path.join(WORK, f"spans-{wl.name}-{seed}.json"))
    units = layers.units()
    full = {name: (metrics.get(name, 0.0), unit) for name, unit in units.items()}
    return full, {"untraced_s": untraced["wall"], "replay_s": replay_s}


def main(argv: list[str] | None = None) -> int:
    t_start = process_start()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    host = configure_env(bool(args.trace))
    sys.path[:0] = [ROOT, HERE]
    try:
        from process_alphafold3_outputs_spark.session import get_spark
        from workloads import WORKLOADS
    except ImportError as exc:
        print(f"cannot import the program under test: {exc}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    wl = WORKLOADS[args.workload](
        os.path.join(WORK, "inputs", f"{args.workload}-{args.seed}"))
    t_gen = time.time()
    wl.prepare(args.seed)
    gen_s = time.time() - t_gen

    spark = get_spark("perfbench")
    spark.range(1).count()
    # input generation is not set-up: it happens once per seed, not per run
    setup_s = time.time() - t_start - gen_s
    phases = {"gen_s": gen_s, "setup_s": setup_s}
    try:
        runner = Runner(wl, spark)
        t = time.time()
        for _ in range(wl.warmup_passes):
            runner.one_pass(count=False)
        phases["warmup_s"] = time.time() - t
        if args.trace:
            metrics, detail = traced_run(runner, setup_s, args.seed)
        else:
            metrics, detail = timed_run(runner, args.seconds, setup_s)
    finally:
        stop_spark(spark)
    phases["total_s"] = time.time() - t_start

    detail.update(workload=wl.name, seed=args.seed, host=host, phases=phases,
                  problems=runner.problems[:20])
    print(json.dumps({"report": detail}))
    print(json.dumps({
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


if __name__ == "__main__":
    sys.exit(main())
