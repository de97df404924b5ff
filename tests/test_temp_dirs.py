"""Queries that write intermediate files reuse one stable scratch dir."""

from __future__ import annotations

import os
import tempfile

import pytest

from ibis_flink_example_spark.queries import QUERIES

SCRATCH_PARENT = f"spark_graft_u{os.getuid()}"  # catalog.scratch_dir's parent


def _entries(root: str) -> set[str]:
    """Top-level temp entries, plus the dirs under the scratch parent."""
    out = set(os.listdir(root))
    parent = os.path.join(root, SCRATCH_PARENT)
    if os.path.isdir(parent):
        out |= {os.path.join(SCRATCH_PARENT, n) for n in os.listdir(parent)}
    return out


@pytest.mark.parametrize(
    "name", ["csv_roundtrip", "jsonl_roundtrip", "orc_roundtrip", "streaming_tumble_1m"]
)
def test_query_reruns_add_no_temp_dir(spark, sf_dir, tmp_path, monkeypatch, name):
    """Two runs of a query leave only ``catalog.scratch_dir`` entries in the
    temp dir, and the second run adds none: a fresh ``mkdtemp`` per run (or
    per process) would grow the temp dir without bound."""
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    QUERIES[name](spark, sf_dir).collect()
    after_one = _entries(str(tmp_path))
    QUERIES[name](spark, sf_dir).collect()
    assert _entries(str(tmp_path)) == after_one
    assert {e.split(os.sep)[0] for e in after_one} <= {SCRATCH_PARENT}
