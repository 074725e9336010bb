"""Ingest-once, query-many: convert an AF3 file tree into the engine's
partitioned parquet tables (SURVEY §4.3 physical layout), then run any
number of screens from the tables without re-parsing JSON/CIF.

This is the 100 TB workflow: raw-file parsing (the expensive,
Python-boundary part) happens exactly once per corpus; every subsequent
query is a columnar scan with pushdown + bucket pruning. The reference
re-parses every CIF up to 9× per run (inefficiency I1); here the parse
count is 1 regardless of how many parameter sweeps follow.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ..sources.af3_json import read_pae_long, read_summary_confidences
from ..sources.cif import chains_from_atoms, read_atoms
from ..sources.layout import write_job_bucketed

#: big tables get bucketed layout; small ones are plain parquet
_BUCKETED = {"pae_long": 64, "atoms": 64}
TABLES = ("predictions", "chains", "pae_long", "atoms")


def ingest_corpus(
    spark: SparkSession, input_dir: str, table_root: str, n_buckets: int = 64
) -> dict[str, str]:
    """Parse the file tree once; write the four engine tables."""
    paths = {}
    for name, df in read_tree(spark, input_dir).items():
        path = os.path.join(table_root, name)
        if name in _BUCKETED:
            write_job_bucketed(df, path, n_buckets=min(n_buckets, _BUCKETED[name]))
        else:
            df.write.mode("overwrite").option("compression", "zstd").parquet(path)
        paths[name] = path
    return paths


def read_tree(spark: SparkSession, input_dir: str) -> dict[str, DataFrame]:
    """The four engine tables (``TABLES``) parsed straight from an AF3
    file tree; the same dict ``load_ingested`` returns from tables."""
    atoms = read_atoms(spark, input_dir)
    return {
        "predictions": read_summary_confidences(spark, input_dir),
        "chains": chains_from_atoms(atoms),
        "pae_long": read_pae_long(spark, input_dir),
        "atoms": atoms,
    }


def load_ingested(spark: SparkSession, table_root: str) -> dict[str, DataFrame]:
    return {
        name: spark.read.parquet(os.path.join(table_root, name))
        for name in TABLES
    }
