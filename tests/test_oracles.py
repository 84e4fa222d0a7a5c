"""build_oracles(): a missing documents/embeddings parquet falls back to
the rows-only gate, any other builder failure surfaces."""

from __future__ import annotations

import pytest

from modelardb_dynamic_spark import queries as Q

GENERATED = (
    "ann_ivf_kmeans", "ann_pq", "bpe_merges", "bm25_search", "hybrid_rrf",
    "bpe_encode",
)


def test_missing_parquet_falls_back_to_rows_only(monkeypatch, tmp_path):
    monkeypatch.setenv("SPARK_GRAFT_ORACLE_SF_DIR", str(tmp_path))
    out = Q.build_oracles()
    assert out == Q.ORACLES
    assert not set(GENERATED) & set(out)


def test_broken_builder_propagates(monkeypatch, tmp_path):
    monkeypatch.setenv("SPARK_GRAFT_ORACLE_SF_DIR", str(tmp_path))

    def broken() -> str:
        raise ValueError("broken oracle builder")

    monkeypatch.setattr(Q, "_bpe_oracle_sql", broken)
    with pytest.raises(ValueError, match="broken oracle builder"):
        Q.build_oracles()
