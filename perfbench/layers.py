"""Per-layer metrics of the traced run, named ``<layer>.<kind>``.

The layers are the program's modules. A module's calls all add to its
layer (``sources.af3_json`` both reads the JSON and writes the PAE CSVs).

What each should move, written down before any measurement:

- ``sources.*`` and ``cli.*_read_ratio``: ``items_per_s`` and
  ``pass_p50_s`` on screen_files; nothing on curate_docs.
- ``operators.screen|intervals|spatial``, ``plans.pipeline.*`` and
  ``operators.structures.*``: the same two metrics, on screen_files only.
- ``plans.ingest.*``: no timed workload runs ingest; it is measured here
  only, on screen_files' replay.
- ``plans.corpus.*``: ``items_per_s`` and ``pass_p50_s`` on curate_docs
  only.
- ``cli.persisted_left``: ``peak_rss_mb``. ``session.exec_s``: ``setup_s``.
"""

from __future__ import annotations

import tracing

#: layers the replays call, in pipeline order
LAYERS = (
    "sources.af3_json",
    "sources.cif",
    "operators.screen",
    "operators.intervals",
    "operators.spatial",
    "plans.pipeline",
    "operators.structures",
    "plans.ingest",
    "plans.corpus",
)

#: kind -> unit, for every replayed layer
KINDS = {
    "build_s": "s",
    "build_jobs": "count",
    "exec_s": "s",
    "jobs": "count",
    "stages": "count",
    "tasks": "count",
    "cpu_s": "s",
    "shuffle_b": "B",
    "rows_out": "count",
    "failed_tasks": "count",
    "core_util": "share",
}

#: counts of one unmodified ``cli.run`` pass
CLI = {
    "cli.exec_s": "s",
    "cli.jobs": "count",
    "cli.stages": "count",
    "cli.tasks": "count",
    "cli.cpu_s": "s",
    "cli.shuffle_b": "B",
    "cli.failed_tasks": "count",
    "cli.core_util": "share",
    "cli.cif_read_ratio": "ratio",
    "cli.json_read_ratio": "ratio",
    "cli.persisted_left": "count",
}

EXTRA = {
    "session.exec_s": "s",
    "operators.spatial.pair_yield": "ratio",
    "plans.pipeline.scans": "count",
    "operators.structures.files_written": "count",
    "plans.ingest.files_written": "count",
    "trace.overhead": "share",
}

_JOINS = ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
          "BroadcastNestedLoopJoin", "CartesianProduct")


#: layers whose replay step has no separate plan-build call
NO_BUILD = {"plans.ingest"}


def units() -> dict[str, str]:
    """Every per-layer metric name with its unit."""
    out = {
        f"{layer}.{kind}": unit
        for layer in LAYERS for kind, unit in KINDS.items()
        if not (layer in NO_BUILD and kind.startswith("build"))
    }
    out.update(CLI)
    out.update(EXTRA)
    return out


def layer_metrics(snap: dict, rec, cores: int) -> dict[str, float]:
    out: dict[str, float] = {}
    for layer, values in rec.values.items():
        builds = [tracing.group_counts(snap, g) for g in rec.groups.get(f"{layer}:build", [])]
        execs = [tracing.group_counts(snap, g) for g in rec.groups.get(f"{layer}:exec", [])]
        for kind in ("jobs", "stages", "tasks", "cpu_s", "shuffle_b", "failed_tasks"):
            out[f"{layer}.{kind}"] = sum(c[kind] for c in builds + execs)
        if layer not in NO_BUILD:
            out[f"{layer}.build_jobs"] = sum(c["jobs"] for c in builds)
        exec_s = values.get("exec_s", 0.0)
        run_s = sum(c["run_s"] for c in execs)
        out[f"{layer}.core_util"] = run_s / (exec_s * cores) if exec_s else 0.0
        for kind, value in values.items():
            out[f"{layer}.{kind}"] = value
        if layer == "operators.spatial":
            ids = set().union(*(c["job_ids"] for c in execs))
            pairs = max((tracing.node_metric([n], "", "number of output rows")
                         for n in tracing.group_sql_nodes(snap, ids)
                         if n["nodeName"].startswith(_JOINS)), default=0.0)
            out["operators.spatial.pair_yield"] = values["rows_out"] / pairs if pairs else 0.0
        if layer == "plans.pipeline":
            ids = set().union(*(c["job_ids"] for c in execs))
            out["plans.pipeline.scans"] = sum(
                "Scan" in n["nodeName"] for n in tracing.group_sql_nodes(snap, ids))
    return out


def cli_metrics(snap: dict, wl, untraced: dict, cores: int) -> dict[str, float]:
    """Counts of the untraced pass, when that pass is a ``cli.run``."""
    if "cif_bytes" not in wl.meta:
        return {}
    c = tracing.group_counts(snap, "pass")
    nodes = tracing.group_sql_nodes(snap, c["job_ids"])
    wall = untraced["wall"]
    return {
        "cli.exec_s": wall,
        "cli.jobs": c["jobs"],
        "cli.stages": c["stages"],
        "cli.tasks": c["tasks"],
        "cli.cpu_s": c["cpu_s"],
        "cli.shuffle_b": c["shuffle_b"],
        "cli.failed_tasks": c["failed_tasks"],
        "cli.core_util": c["run_s"] / (wall * cores),
        "cli.cif_read_ratio": tracing.node_metric(nodes, "Scan binaryFile", "size of files read")
        / wl.meta["cif_bytes"],
        "cli.json_read_ratio": tracing.node_metric(nodes, "Scan json", "size of files read")
        / wl.meta["json_bytes"],
        "cli.persisted_left": untraced["persisted_left"],
    }
