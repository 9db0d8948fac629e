"""Text dedup operators on inputs the fixtures never contain."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from metrics_service_spark.catalog import all_queries
from metrics_service_spark.testing.oracle import compare_query


def test_dedup_tiers_leaves_out_null_text_docs(spark, sf_dir, tmp_path):
    """NULL-text documents have no content hash: the tiered keep-list
    gives them no verdict, as its oracle's hash join drops them,
    instead of grouping them as mutual exact duplicates."""
    docs = pq.read_table(os.path.join(sf_dir, "documents.parquet"))
    null_ids = docs.column("doc_id").to_pylist()[:4]
    text = pc.if_else(
        pc.is_in(docs.column("doc_id"), value_set=pa.array(null_ids)),
        pa.scalar(None, pa.string()),
        docs.column("text"),
    )
    docs = docs.set_column(docs.schema.get_field_index("text"), "text", text)
    pq.write_table(docs, os.path.join(tmp_path, "documents.parquet"))

    spec = all_queries()["doc_dedup_tiers"]
    got = spec.fn(spark, str(tmp_path))
    assert compare_query(got, spec.oracle, str(tmp_path), name="doc_dedup_tiers") == (
        docs.num_rows - len(null_ids)
    )
    assert got.filter(got.doc_id.isin(null_ids)).count() == 0
