"""End-to-end interaction pipeline — the reference's `process_directory`
re-expressed as ONE DataFrame DAG over all jobs at once
(process_af3_outputs.py:543-579; lifecycle in SURVEY §3.1).

The per-job Python loop disappears into partitioning: every stage keys
by ``job`` first, so the whole corpus processes as embarrassingly
parallel partitions. Over the 20-job test corpus the report's physical
plan has 22 shuffle and 19 broadcast exchanges over 23 scans
(``bench.plan_node_counts``; capped in ``tests/test_plan_contracts.py``).

This module and ``plans/ingest.py`` are the only places that compose the
screen: callers read the tables with ``ingest.read_tree`` or
``ingest.load_ingested`` and build on ``compute_contacts``,
``partner_islands`` and ``interaction_report``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.intervals import identify_interacting_residues
from ..operators.islands import find_islands
from ..operators.screen import screen_binders
from ..operators.spatial import contact_pairs_grid
from ..params import (
    PARTNER_ISLAND_MAX_GAP,
    PARTNER_ISLAND_MIN_LENGTH,
    POI_ISLAND_MAX_GAP,
    POI_ISLAND_MIN_LENGTH,
    ScreenParams,
)


def partner_islands(contacts: DataFrame) -> DataFrame:
    """Level 1 of O24 (process_af3_outputs.py:288-293): partner residues
    with >= 1 contact, kept when they fall in an island (gap<=1, len>=3).
    Returns (job, partner_res, p_isl); the structure sinks select
    (job, partner_res)."""
    return find_islands(
        contacts.select("job", "partner_res").distinct(),
        ["job"],
        "partner_res",
        PARTNER_ISLAND_MAX_GAP,
        PARTNER_ISLAND_MIN_LENGTH,
        island_col="p_isl",
    )


def two_level_islands(contacts: DataFrame) -> DataFrame:
    """O24 (process_af3_outputs.py:288-302): islands over contact-map keys
    (partner residues with >= 1 contact; gap<=1, len>=3), then — per
    partner island — islands over the UNION of that island's POI contact
    sets (gap<=2, len>=3).

    Returns one row per (partner island × POI island) pair:
      (job, p_min, p_max, c_min, c_max)
    The second level partitions by a computed key (the first island's
    min residue) — deterministic, so oracle hashing is stable
    (SURVEY §7.2). The reference iterates a raw ``set`` here; we sort
    (documented divergence-to-correctness, SURVEY §2.2 #7).
    """
    p_islands = partner_islands(contacts)
    p_ranges = p_islands.groupBy("job", "p_isl").agg(
        F.min("partner_res").alias("p_min"), F.max("partner_res").alias("p_max")
    )
    # Per-island set union of contact sets (:294-297) in long form.
    poi_union = (
        contacts.join(p_islands, ["job", "partner_res"])
        .select("job", "p_isl", "poi_res")
        .distinct()
    )
    poi_islands = find_islands(
        poi_union,
        ["job", "p_isl"],
        "poi_res",
        POI_ISLAND_MAX_GAP,
        POI_ISLAND_MIN_LENGTH,
        island_col="c_isl",
    )
    c_ranges = poi_islands.groupBy("job", "p_isl", "c_isl").agg(
        F.min("poi_res").alias("c_min"), F.max("poi_res").alias("c_max")
    )
    # O28 (:372-380): one row per (interacting island × contact island).
    return c_ranges.join(p_ranges, ["job", "p_isl"]).select(
        "job", "p_min", "p_max", "c_min", "c_max"
    )


def compute_contacts(
    binders: DataFrame,
    chains: DataFrame,
    pae_long: DataFrame,
    atoms: DataFrame,
    params: ScreenParams,
) -> DataFrame:
    """Shared subplan: screened ``binders`` → PAE threshold → contact
    pairs. Callers that need both the report AND the structure sinks
    compute (and cache) this ONCE — the reference recomputed the whole
    chain per output path (inefficiencies I1/I2)."""
    interacting = identify_interacting_residues(pae_long, chains, params, jobs=binders)
    return contact_pairs_grid(atoms, interacting, params)


def interaction_report(
    predictions: DataFrame,
    chains: DataFrame,
    pae_long: DataFrame,
    atoms: DataFrame,
    params: ScreenParams,
    contacts: DataFrame | None = None,
) -> DataFrame:
    """The flagship: screen → PAE threshold → contacts → islands →
    report rows with the reference's exact CSV schema
    (column names embed chain params, :306-312; ranges ``min-max``,
    sequences sliced 1-based inclusive, :372-380).

    ``contacts``: optionally a precomputed (cached) compute_contacts
    result, reused across report + sinks."""
    if contacts is None:
        binders = screen_binders(predictions, params)
        contacts = compute_contacts(binders, chains, pae_long, atoms, params)
    pairs = two_level_islands(contacts)

    poi_seq = chains.filter(F.col("chain_id") == params.poi_chain).select(
        "job", F.col("sequence").alias("_poi_seq")
    )
    partner_seq = chains.filter(F.col("chain_id") == params.partner_chain).select(
        "job", F.col("sequence").alias("_partner_seq")
    )
    cols = params.report_columns()
    return (
        pairs.join(poi_seq, "job")
        .join(partner_seq, "job")
        .select(
            F.col("job").alias(cols[0]),
            F.concat_ws("-", "c_min", "c_max").alias(cols[1]),
            # Spark substring is 1-based inclusive-length — exact match
            # for sequence[min-1:max] (:377).
            F.expr("substring(_poi_seq, c_min, c_max - c_min + 1)").alias(cols[2]),
            F.concat_ws("-", "p_min", "p_max").alias(cols[3]),
            F.expr("substring(_partner_seq, p_min, p_max - p_min + 1)").alias(cols[4]),
        )
    )


def write_report(report: DataFrame, out_dir: str, params: ScreenParams) -> str:
    """O29: parameterised CSV sink (process_af3_outputs.py:304-318)."""
    path = f"{out_dir}/{params.csv_name()}"
    report.write.mode("overwrite").option("header", True).csv(path)
    return path
