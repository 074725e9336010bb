"""Output checks. Expected results never come from the engine: the AF3
workloads use ``tests/reference_model.py`` on the generated in-memory
corpus, and the document workload uses the DuckDB SQL registered with
the ``pipeline_corpus_*`` queries, run on the generated parquet file."""

from __future__ import annotations

import glob
import math
import os

import pandas as pd

from process_alphafold3_outputs_spark.params import ScreenParams

from gen import N_MODELS

#: (query whose registered SQL is the oracle, output name), in pass order
CORPUS_ORACLES = (
    ("pipeline_corpus_clean", "clean"),
    ("pipeline_corpus_to_training", "training"),
    ("pipeline_corpus_curate", "curated"),
)


def expected_screen(corpus: dict, params: ScreenParams) -> dict:
    """Report rows and binder count the reference model gives at
    ``params``."""
    from tests import reference_model as rm

    poi, partner = params.poi_chain, params.partner_chain
    chains, pae_df, atoms_df = corpus["chains"], corpus["pae_long"], corpus["atoms"]
    atoms_df = atoms_df[atoms_df.model_id == 0]
    pae_by_job = dict(tuple(pae_df.groupby("job", sort=False)))
    atoms_by_job = dict(tuple(atoms_df.groupby("job", sort=False)))
    rows, binders = [], 0
    for pred in corpus["predictions"].to_dict("records"):
        if not rm.screen_job(pred, params.min_iptm_cutoff, params.min_ptm_cutoff,
                             params.max_pae_cutoff, poi, partner):
            continue
        binders += 1
        job = pred["job"]
        ch = chains[chains.job == job].sort_values("chain_index")
        jp = pae_by_job[job]
        pae = dict(zip(zip(jp.scored_token.tolist(), jp.aligned_token.tolist()),
                       jp.pae.astype(float).tolist()))
        inter = rm.interacting_residues(
            pae, int(jp.aligned_token.max()) + 1, ch.token_length.tolist(),
            params.max_pae_cutoff, params.min_residues_cutoff, poi, partner,
        )
        cmap = rm.contact_map(atoms_by_job[job].to_dict("records"), inter,
                              params.max_dist, poi, partner)
        rows.extend(rm.report_rows(
            job, cmap,
            ch[ch.chain_id == poi].sequence.iloc[0],
            ch[ch.chain_id == partner].sequence.iloc[0],
        ))
    return {"rows": sorted(rows), "binders": binders}


def screen_problems(out_root: str, result: dict, expected: dict,
                    params: ScreenParams) -> list[str]:
    """Mismatches between one CLI pass's outputs and the reference."""
    problems = []
    csv = pd.read_csv(os.path.join(out_root, params.csv_name()),
                      dtype=str, keep_default_na=False)
    got = sorted(tuple(r) for r in csv[params.report_columns()].itertuples(index=False))
    if got != expected["rows"]:
        problems.append(f"report: {len(got)} rows differ from the "
                        f"{len(expected['rows'])} expected")
    n = expected["binders"]
    on_disk = {
        "n_binders": result["n_binders"],
        "interaction_cifs": len(glob.glob(
            os.path.join(out_root, params.interaction_dir(), "*_interaction.cif"))),
        "overlay_files": len(glob.glob(
            os.path.join(out_root, params.overlay_dir(), "*", "*"))),
        "pae_csvs": len(glob.glob(os.path.join(out_root, "*", "*_full_data_0_pae.csv"))),
    }
    want = {"n_binders": n, "interaction_cifs": n,
            "overlay_files": n * (N_MODELS + 1), "pae_csvs": n}
    for key, value in want.items():
        if on_disk[key] != value or result.get(key, value) != value:
            problems.append(f"{key}: {on_disk[key]} on disk, "
                            f"{result.get(key)} reported, {value} expected")
    return problems


def expected_tables(corpus: dict) -> dict[str, int]:
    return {name: len(corpus[name])
            for name in ("predictions", "chains", "pae_long", "atoms")}


def table_rows(table_root: str) -> dict[str, int]:
    import pyarrow.dataset as ds

    return {
        name: ds.dataset(os.path.join(table_root, name), format="parquet",
                         partitioning="hive").count_rows()
        for name in ("predictions", "chains", "pae_long", "atoms")
    }


def expected_corpus(docs_dir: str) -> dict[str, tuple[list[str], list[tuple]]]:
    """(columns, canonical rows) per output, from the registered SQL."""
    import duckdb

    import __spark_entry__

    sql = __spark_entry__.all_oracle_sql()
    con = duckdb.connect()
    try:
        path = os.path.join(docs_dir, "documents.parquet").replace("'", "''")
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
        out = {}
        for query, name in CORPUS_ORACLES:
            cur = con.execute(sql[query])
            cols = [d[0] for d in cur.description]
            out[name] = (cols, canon_rows(cur.fetchall()))
        return out
    finally:
        con.close()


def _cell(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else float(f"{v:.9g}")
    if hasattr(v, "item"):  # numpy scalar
        return _cell(v.item())
    return v


def canon_rows(rows) -> list[tuple]:
    return sorted((tuple(_cell(v) for v in r) for r in rows), key=str)


def corpus_problems(out_dir: str, expected: dict) -> list[str]:
    problems = []
    for name, (cols, rows) in expected.items():
        got = pd.read_parquet(os.path.join(out_dir, name))[cols]
        got_rows = canon_rows(got.itertuples(index=False))
        if got_rows != rows:
            problems.append(f"{name}: {len(got_rows)} rows differ from the "
                            f"{len(rows)} expected")
    return problems
