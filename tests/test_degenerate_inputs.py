"""Degenerate embedding tables: queries answer them instead of crashing."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq

_EMB_SCHEMA = pa.schema(
    [
        ("vec_id", pa.int64()),
        ("embedding", pa.list_(pa.float32())),
        ("label", pa.int32()),
    ]
)


def _write_embeddings(sf_dir, rows: list[tuple[int, list[float]]]) -> str:
    table = pa.table(
        {
            "vec_id": [r[0] for r in rows],
            "embedding": [r[1] for r in rows],
            "label": [0] * len(rows),
        },
        schema=_EMB_SCHEMA,
    )
    pq.write_table(table, str(sf_dir / "embeddings.parquet"))
    return str(sf_dir)


def test_ivfpq_topk_on_empty_embeddings(spark, tmp_path):
    """An empty corpus has no seeds to fit an index on: the top-k is the
    empty ``(vec_id, sim)`` frame, not ``ValueError('no vectors')``."""
    from concurrent_etl_go_spark.llm.ivfpq import similarity_ivfpq_topk

    sf_dir = _write_embeddings(tmp_path, [])
    out = similarity_ivfpq_topk(spark, sf_dir)
    assert out.columns == ["vec_id", "sim"]
    assert out.collect() == []


def test_top_component_on_all_zero_vectors(spark, tmp_path):
    """An all-zero Gram matrix has no principal direction: every weight
    is zero, where the power iteration used to divide by zero."""
    from concurrent_etl_go_spark.llm.ivfpq2 import _DIM
    from concurrent_etl_go_spark.llm.pca import embeddings_top_component

    sf_dir = _write_embeddings(
        tmp_path, [(i, [0.0] * _DIM) for i in range(5)]
    )
    got = [
        tuple(r)
        for r in embeddings_top_component(spark, sf_dir).orderBy("dim").collect()
    ]
    assert got == [(i, 0) for i in range(1, _DIM + 1)]
