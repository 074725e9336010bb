"""Tests of the benchmark itself (no Spark session needed).

    python -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import re
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import check  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402
from gen import N_MODELS  # noqa: E402

from process_alphafold3_outputs_spark.fixtures import make_corpus  # noqa: E402
from process_alphafold3_outputs_spark.params import ScreenParams  # noqa: E402


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_metric_names_are_declared_with_their_units():
    bench = _benchmark_json()
    declared = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}
    emitted = {**run.END_TO_END, **layers.units()}
    for name in emitted:
        assert re.fullmatch(r"[A-Za-z0-9_.-]+", name), name
    assert emitted == declared


def test_workloads_are_declared():
    from workloads import WORKLOADS

    assert [w["name"] for w in _benchmark_json()["workloads"]] == list(WORKLOADS)


@pytest.fixture()
def screen_out(tmp_path):
    """A pass's output tree as the CLI writes it, built from the
    reference rows, with its check's expected values."""
    params = ScreenParams()
    corpus = make_corpus(n_jobs=8, seed=3)
    expected = check.expected_screen(corpus, params)
    assert expected["rows"] and expected["binders"]
    pd.DataFrame(expected["rows"], columns=params.report_columns()).to_csv(
        tmp_path / params.csv_name(), index=False)
    jobs = [f"binder{i}" for i in range(expected["binders"])]
    (tmp_path / params.interaction_dir()).mkdir()
    for job in jobs:
        (tmp_path / params.interaction_dir() / f"{job}_interaction.cif").write_text("")
        ov = tmp_path / params.overlay_dir() / job
        ov.mkdir(parents=True)
        for k in range(N_MODELS):
            (ov / f"model_{k}.cif").write_text("")
        (ov / "align_and_save.pml").write_text("")
        (tmp_path / job).mkdir()
        (tmp_path / job / f"{job}_full_data_0_pae.csv").write_text("")
    n = expected["binders"]
    result = {"n_binders": n, "interaction_cifs": n,
              "overlay_files": n * (N_MODELS + 1), "pae_csvs": n}
    return tmp_path, result, expected, params


def test_screen_check_passes_reference_output(screen_out):
    out, result, expected, params = screen_out
    assert check.screen_problems(str(out), result, expected, params) == []


def test_screen_check_flags_altered_csv_row(screen_out):
    out, result, expected, params = screen_out
    csv = out / params.csv_name()
    df = pd.read_csv(csv, dtype=str, keep_default_na=False)
    col = params.report_columns()[1]
    df.loc[0, col] = "1-" + df.loc[0, col].split("-")[1] + "0"
    df.to_csv(csv, index=False)
    problems = check.screen_problems(str(out), result, expected, params)
    assert problems and problems[0].startswith("report:")


def test_screen_check_flags_missing_sink_file(screen_out):
    out, result, expected, params = screen_out
    next((out / params.interaction_dir()).iterdir()).unlink()
    problems = check.screen_problems(str(out), result, expected, params)
    assert any(p.startswith("interaction_cifs") for p in problems)


def test_corpus_check_flags_altered_row(tmp_path):
    rows = [(1, "a b c", 2, 1.25), (2, "d e f", 2, 0.5)]
    cols = ["doc_id", "clean_text", "n_bigrams", "avg_nll"]
    expected = {"curated": (cols, check.canon_rows(rows))}
    pd.DataFrame(rows, columns=cols).to_parquet(tmp_path / "curated")
    assert check.corpus_problems(str(tmp_path), expected) == []
    altered = [(1, "a b c", 2, 1.25), (2, "d e x", 2, 0.5)]
    pd.DataFrame(altered, columns=cols).to_parquet(tmp_path / "curated")
    assert check.corpus_problems(str(tmp_path), expected)


def test_span_file_parses_and_children_nest(tmp_path):
    tracer = tracing.Tracer()
    with tracer.span("replay", trace_id="replay"):
        with tracer.span("sources.cif.build"):
            pass
        with tracer.span("sources.cif.exec"):
            with tracer.span("inner"):
                pass
    path = tmp_path / "spans.json"
    tracer.write(str(path))
    spans = json.loads(path.read_text())
    assert [s["name"] for s in spans] == [
        "replay", "sources.cif.build", "sources.cif.exec", "inner"]
    assert {s["trace_id"] for s in spans} == {"replay"}
    assert tracing.check_spans(spans) == []


def test_span_check_flags_child_outside_parent():
    spans = [
        {"span_id": 1, "name": "p", "parent": None, "trace_id": "t", "start": 0.0, "end": 1.0},
        {"span_id": 2, "name": "c", "parent": 1, "trace_id": "t", "start": 0.5, "end": 1.5},
    ]
    assert tracing.check_spans(spans) == ["c: outside parent p"]


def test_sql_metric_values():
    assert tracing.metric_value("1,234") == 1234
    assert tracing.metric_value(
        "total (min, med, max (stageId: taskId))\n3.5 KiB (1.0 KiB, 1.2 KiB, 1.3 KiB)"
    ) == 3.5 * 1024


def test_tail_percentile_leaves_ten_samples_beyond():
    assert run.tail_percentile(10) is None
    assert run.tail_percentile(40) == 75.0
