"""The scaling probe: its replica fixture and its measuring loop."""

from __future__ import annotations

import numpy as np
import pyarrow.parquet as pq
import pytest


@pytest.fixture(scope="module")
def replica_dirs(sf_dir, tmp_path_factory):
    import scaling_probe as P

    root = tmp_path_factory.mktemp("scaling_replica")
    return (
        P.build_replica(sf_dir, str(root / "1x"), 1),
        P.build_replica(sf_dir, str(root / "2x"), 2),
    )


def _table(d, name):
    from ibis_flink_example_spark.catalog import table_path

    return pq.read_table(table_path(d, name))


def test_replica_doubles_rows_with_disjoint_ids(sf_dir, replica_dirs):
    import scaling_probe as P

    one, two = replica_dirs
    for name in ("region", "nation", *P.KEY_OFFSETS):
        base = _table(sf_dir, name)
        assert _table(one, name).equals(base), name
        rep = _table(two, name)
        assert rep.schema == base.schema, name
        assert rep.num_rows == base.num_rows * (2 if name in P.KEY_OFFSETS else 1), name
        for col in P.KEY_OFFSETS.get(name, {}):
            ids = rep[col].to_numpy()
            n = base.num_rows
            assert not set(ids[:n]) & set(ids[n:]), (name, col)
    # a fact table's foreign keys follow its copy's offset keys
    li, part = _table(two, "lineitem"), _table(two, "part")
    assert set(li["l_partkey"].to_pylist()) <= set(part["p_partkey"].to_pylist())


def test_replica_suffixes_only_surviving_tokens(replica_dirs):
    from ibis_flink_example_spark.operators.text import corpus_stopwords

    _, two = replica_dirs
    docs = _table(two, "documents").to_pylist()
    n = len(docs) // 2
    stop = set(corpus_stopwords())
    for base, copy in zip(docs[:n], docs[n:]):
        assert copy["n_chars"] == len(copy["text"])
        for w, s in zip(base["text"].split(" "), copy["text"].split(" ")):
            assert s == (w + "x1" if len(w) >= 3 and w not in stop else w)
    words = [w for d in docs[n:] for w in d["text"].split(" ")]
    assert any(w.endswith("x1") for w in words)
    assert any(w in stop for w in words) and any(len(w) < 3 for w in words)


def test_replica_keeps_embedding_norms(replica_dirs):
    _, two = replica_dirs
    em = _table(two, "embeddings")
    vecs = np.array(em["embedding"].to_pylist())
    n = len(vecs) // 2
    np.testing.assert_allclose(
        np.linalg.norm(vecs[:n], axis=1), np.linalg.norm(vecs[n:], axis=1), rtol=1e-6
    )
    assert not np.allclose(vecs[:n], vecs[n:])
    assert (np.abs(vecs[:n]) == np.abs(vecs[n:])).all()


@pytest.mark.parametrize("row", ["gopher_flags", "decontaminate_13gram"])
def test_measure_reports_exponents(spark, replica_dirs, row):
    """A registry row and an operator row each come back with both scales'
    records and an exponent for every metric, gated on CPU and wall."""
    import scaling_probe as P

    rec = P.measure(spark, row, replica_dirs, 2)
    assert rec["runs"] == P.REGISTRY_ROWS.get(row, "operator")
    assert set(rec["exponent"]) == set(P.METRICS)
    for scale in ("1x", "2x"):
        assert set(rec[scale]) == set(P.METRICS)
        assert rec[scale]["executor_cpu_s"] > 0 and rec[scale]["tasks"] >= 1
    assert isinstance(rec["exponent"]["executor_cpu_s"], float)
    assert isinstance(rec["exponent"]["sec"], float)
    assert rec["passes"] == all(rec["exponent"][m] <= P.LINEAR_TOLERANCE for m in P.GATED)
