"""Differential fuzz for the r12 mixing/chunking/fingerprint family.

The fixed catalog constants exercise one regime each (e.g. the
epoch-cap waterfill at sf0.01 saturates exactly one source); these
sweep budget/k/window parameters over adversarial tiny corpora —
empty docs, single tokens, all-duplicate groups, punctuation noise —
and require the Spark pipelines and their parameterized DuckDB
oracles to agree bitwise on every draw.
"""

from __future__ import annotations

import os

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from metrics_service_spark.catalog.llm import (
    ORACLE_CANONICAL_DEDUP,
    chunk_overlap_oracle,
    epoch_cap_oracle,
    winnow_oracle,
)
from metrics_service_spark.operators.dedup import canonical_dedup, winnow_pairs
from metrics_service_spark.operators.sampling import epoch_cap_source_sample
from metrics_service_spark.operators.text import chunk_overlap
from metrics_service_spark.testing.oracle import compare_query
import pytest

# multi-minute suite: excluded from the fast default run (pytest.ini)
pytestmark = pytest.mark.slow

_doc = st.lists(
    st.sampled_from(["a", "b", "c", "A.", "b,c", "  ", "d!"]),
    min_size=0,
    max_size=20,
).map(" ".join)
_langs = st.sampled_from(["en", "de", "fr"])


def _write(tmp_path, texts, langs):
    import pyarrow as pa
    import pyarrow.parquet as pq

    sf_dir = str(tmp_path)
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(len(texts)), pa.int64()),
                "text": pa.array(texts, pa.string()),
                "lang": pa.array(langs, pa.string()),
                "source": pa.array(["src"] * len(texts), pa.string()),
                "n_chars": pa.array([len(t) for t in texts], pa.int32()),
            }
        ),
        os.path.join(sf_dir, "documents.parquet"),
    )
    return sf_dir


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    data=st.data(),
    budget=st.integers(min_value=1, max_value=120),
    k=st.integers(min_value=1, max_value=4),
    chunk=st.integers(min_value=2, max_value=9),
)
def test_mix_family_matches_oracle_on_adversarial_corpora(
    spark, tmp_path, data, budget, k, chunk
):
    texts = data.draw(st.lists(_doc, min_size=1, max_size=10))
    langs = [data.draw(_langs) for _ in texts]
    overlap = data.draw(st.integers(min_value=0, max_value=chunk - 1))
    sf_dir = _write(tmp_path, texts, langs)
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))

    compare_query(
        epoch_cap_source_sample(
            docs, "lang", "doc_id", budget=budget, max_epochs=k
        ),
        epoch_cap_oracle(budget, k),
        sf_dir,
        "fuzz:epoch_cap",
    )
    compare_query(
        chunk_overlap(
            docs, "doc_id", "text", chunk_tokens=chunk, overlap=overlap
        ),
        chunk_overlap_oracle(chunk, overlap),
        sf_dir,
        "fuzz:chunk_overlap",
    )
    compare_query(
        canonical_dedup(docs, "doc_id", "text"),
        ORACLE_CANONICAL_DEDUP,
        sf_dir,
        "fuzz:canonical_dedup",
    )
    compare_query(
        winnow_pairs(
            docs, "doc_id", "text", k=2, window=3, max_df=8, min_shared=1
        ),
        winnow_oracle(2, 3, 8, 1),
        sf_dir,
        "fuzz:winnow_pairs",
    )


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    data=st.data(),
    neighborhood=st.integers(min_value=2, max_value=5),
    block_chars=st.integers(min_value=1, max_value=4),
    max_dist=st.integers(min_value=0, max_value=60),
)
def test_linkage_family_matches_oracle_on_adversarial_corpora(
    spark, tmp_path, data, neighborhood, block_chars, max_dist
):
    from metrics_service_spark.catalog.llm import (
        fuzzy_prefix_oracle,
        sorted_neighborhood_oracle,
    )
    from metrics_service_spark.operators.dedup import (
        fuzzy_prefix_pairs,
        sorted_neighborhood_pairs,
    )

    texts = data.draw(st.lists(_doc, min_size=1, max_size=10))
    langs = [data.draw(_langs) for _ in texts]
    max_cell = data.draw(st.integers(min_value=1, max_value=12))
    sf_dir = _write(tmp_path, texts, langs)
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))

    compare_query(
        fuzzy_prefix_pairs(
            docs, "doc_id", "text",
            prefix_chars=40, block_chars=block_chars,
            max_dist=max_dist, block_cols=["lang"], max_cell=max_cell,
        ),
        fuzzy_prefix_oracle(40, block_chars, max_dist, max_cell),
        sf_dir,
        "fuzz:fuzzy_prefix",
    )
    compare_query(
        sorted_neighborhood_pairs(
            docs, "doc_id", "text",
            neighborhood=neighborhood, prefix_chars=40,
            max_dist=max_dist, block_cols=["lang"],
        ),
        sorted_neighborhood_oracle(neighborhood, 40, max_dist),
        sf_dir,
        "fuzz:sorted_neighborhood",
    )


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    data=st.data(),
    nbhd=st.integers(min_value=2, max_value=5),
    pfx=st.integers(min_value=1, max_value=12),
    bchars=st.integers(min_value=1, max_value=3),
)
def test_sorted_neighborhood_rank_modes_agree(
    spark, tmp_path, data, nbhd, pfx, bchars
):
    # r13 invariant: the hot-block-safe bucketed-global-rank mode must
    # return the bit-identical pair set as the block-keyed window mode
    # for ANY corpus, block structure, and bucket width — including
    # single hot blocks, duplicate prefixes (rank ties broken by id),
    # empty texts, and prefixes shorter than the bucket chunk
    from metrics_service_spark.operators.dedup import (
        sorted_neighborhood_pairs,
    )

    texts = data.draw(st.lists(_doc, min_size=1, max_size=12))
    hot = data.draw(st.booleans())  # one-block corpus vs mixed langs
    langs = ["xx"] * len(texts) if hot else [
        data.draw(_langs) for _ in texts
    ]
    sf_dir = _write(tmp_path, texts, langs)
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    kw = dict(
        neighborhood=nbhd, prefix_chars=pfx, max_dist=pfx,
        block_cols=["lang"],
    )
    w = sorted(
        tuple(r)
        for r in sorted_neighborhood_pairs(
            docs, "doc_id", "text", **kw
        ).collect()
    )
    g = sorted(
        tuple(r)
        for r in sorted_neighborhood_pairs(
            docs, "doc_id", "text", rank_bucket_chars=bchars, **kw
        ).collect()
    )
    assert w == g


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    data=st.data(),
    nbhd=st.integers(min_value=2, max_value=5),
    pfx=st.integers(min_value=2, max_value=12),
    bchars=st.integers(min_value=1, max_value=3),
    cell=st.integers(min_value=1, max_value=8),
)
def test_linkage_multipass_matches_oracle_on_adversarial_corpora(
    spark, tmp_path, data, nbhd, pfx, bchars, cell
):
    # r13: the composed multi-pass union must agree bitwise with the
    # composed parameterized oracle on tiny adversarial corpora —
    # all-duplicate blocks (max_cell fires), empty texts, block keys
    # shorter than block_chars, hot single-lang corpora
    from metrics_service_spark.catalog.llm import linkage_multipass_oracle
    from metrics_service_spark.operators.dedup import (
        fuzzy_prefix_pairs,
        sorted_neighborhood_pairs,
    )

    texts = data.draw(st.lists(_doc, min_size=1, max_size=12))
    hot = data.draw(st.booleans())
    langs = ["xx"] * len(texts) if hot else [
        data.draw(_langs) for _ in texts
    ]
    sf_dir = _write(tmp_path, texts, langs)
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    strict = fuzzy_prefix_pairs(
        docs, "doc_id", "text",
        prefix_chars=pfx, block_chars=bchars, max_dist=pfx,
        block_cols=["lang"], max_cell=cell,
    )
    sn = sorted_neighborhood_pairs(
        docs, "doc_id", "text",
        neighborhood=nbhd, prefix_chars=pfx, max_dist=pfx,
        block_cols=["lang"],
        rank_bucket_chars=data.draw(st.sampled_from([None, 1, 2])),
    )
    compare_query(
        strict.union(sn).distinct(),
        linkage_multipass_oracle(nbhd, pfx, bchars, pfx, cell),
        sf_dir,
        "fuzz:linkage_multipass",
    )


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    data=st.data(),
    mod=st.integers(min_value=1, max_value=4),
    pfx=st.integers(min_value=2, max_value=10),
)
def test_linkage_recall_matches_oracle_on_adversarial_corpora(
    spark, tmp_path, data, mod, pfx
):
    # r13: the recall calibration must agree bitwise with its
    # parameterized oracle — including empty samples (mod picks no
    # doc: true_pairs 0, recall NULL in both engines), one-doc
    # samples (no pairs), and the subset/division arithmetic
    from metrics_service_spark.catalog.llm import linkage_recall_oracle
    from metrics_service_spark.operators.dedup import linkage_recall_matrix

    texts = data.draw(st.lists(_doc, min_size=1, max_size=10))
    langs = [data.draw(_langs) for _ in texts]
    sf_dir = _write(tmp_path, texts, langs)
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    compare_query(
        linkage_recall_matrix(
            docs, "doc_id", "text",
            sample_mod=mod, prefix_chars=pfx, max_dist=pfx,
            block_chars=2, max_cell=6, neighborhood=3,
            block_cols=["lang"],
        ),
        linkage_recall_oracle(mod, pfx, pfx, 2, 6, 3),
        sf_dir,
        "fuzz:linkage_recall",
    )


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.tuples(
            st.lists(
                st.sampled_from(
                    ["ab", "abc", "banana", "cd", "cdcd", "dq", "zz", "za",
                     "A.", "b,c", "  ", "xyz"]
                ),
                min_size=1,
                max_size=12,
            ).map(" ".join),
            st.sampled_from(["en", "de", "fr"]),
        ),
        min_size=2,
        max_size=10,
    ),
    st.dictionaries(
        st.sampled_from(["en", "de", "fr"]),
        st.integers(min_value=1, max_value=3),
        min_size=1,
        max_size=3,
    ),
)
def test_grouped_bpe_fuzz_vs_oracle(spark, tmp_path_factory, corpus, budgets):
    """The grouped trainer and its parameterized relational oracle
    must agree bitwise on adversarial tiny corpora — per-group argmax
    ties, budget-spent groups riding through, punctuation/empty
    noise.  Draws where a group exhausts its pairs before its budget
    (the loud-raise contract, covered by its own test) are skipped."""
    import pytest as _pytest
    from hypothesis import assume

    from metrics_service_spark.operators.bpe import (
        bpe_train_grouped_local_finish,
        sql_bpe_grouped_merge_table,
    )

    langs_present = {l for _, l in corpus}
    budgets = {g: b for g, b in budgets.items() if g in langs_present}
    assume(budgets)
    tmp_path = tmp_path_factory.mktemp("grouped_fuzz")
    sf_dir = _write(
        tmp_path, [t for t, _ in corpus], [l for _, l in corpus]
    )
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    try:
        got = bpe_train_grouped_local_finish(docs, "text", budgets=budgets)
        n = got.count()
    except ValueError as e:
        assume("no mergeable pairs" not in str(e))
        raise
    compare_query(
        got, sql_bpe_grouped_merge_table(budgets), sf_dir, "grouped_fuzz"
    )
    assert n == sum(budgets.values())
