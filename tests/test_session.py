"""The persist owner: keep() registers with the innermost owned() scope,
which unpersists on exit; outside every scope keep() is a plain persist."""

from __future__ import annotations

import pytest
from pyspark import StorageLevel

from process_alphafold3_outputs_spark.session import keep, owned


def _cached(df) -> bool:
    return df.storageLevel != StorageLevel.NONE


def test_owned_nested_scopes_release_their_own_keeps(spark):
    with owned():
        outer = keep(spark.range(9101))
        with owned():
            inner = keep(spark.range(9102))
            assert _cached(outer) and _cached(inner)
        assert _cached(outer) and not _cached(inner)
    assert not _cached(outer)


def test_owned_releases_when_the_block_raises(spark):
    with pytest.raises(RuntimeError):
        with owned():
            df = keep(spark.range(9103))
            assert _cached(df)
            raise RuntimeError("boom")
    assert not _cached(df)


def test_keep_outside_any_scope_stays_persisted(spark):
    df = keep(spark.range(9104))
    try:
        with owned():
            keep(spark.range(9105))
        assert _cached(df)
    finally:
        df.unpersist()
