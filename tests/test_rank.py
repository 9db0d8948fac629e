"""global_row_number / global_cumsum must equal the single-partition
window definitions on shuffled input, and the catalog's cumulative
window plans per bucket."""

from __future__ import annotations

import random

from pyspark.sql import Window
from pyspark.sql import functions as F

from metrics_service_spark.operators.rank import global_cumsum, global_row_number


def _data(spark, seed=7, n=500):
    rng = random.Random(seed)
    rows = [(i, rng.randint(0, 40), rng.randint(1, 9)) for i in range(n)]
    rng.shuffle(rows)
    return spark.createDataFrame(rows, "id long, key long, v long").repartition(13)


def test_global_row_number_matches_window(spark):
    df = _data(spark)
    got = {
        r.id: r.rn
        for r in global_row_number(
            df, bucket=F.col("key"), order=[F.col("key"), F.col("id")], out_col="rn"
        ).collect()
    }
    w = Window.orderBy(F.col("key"), F.col("id"))
    want = {r.id: r.rn for r in df.withColumn("rn", F.row_number().over(w)).collect()}
    assert got == want


def test_global_cumsum_matches_window(spark):
    df = _data(spark)
    got = {
        r.id: r.cs
        for r in global_cumsum(
            df,
            F.col("v"),
            bucket=F.col("key"),
            order=[F.col("key"), F.col("id")],
            out_col="cs",
        ).collect()
    }
    w = (
        Window.orderBy(F.col("key"), F.col("id"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    want = {r.id: r.cs for r in df.withColumn("cs", F.sum("v").over(w)).collect()}
    assert got == want


def test_global_ops_keep_null_bucket_rows(spark):
    """A NULL bucket must not drop rows through the offset join; the
    numbering stays dense and matches the window definition (Spark asc
    sorts NULL first, same as the offset prefix-sum)."""
    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "b")], "id long, key string"
    )
    got = {
        r.id: r.rn
        for r in global_row_number(
            df, bucket=F.col("key"), order=[F.col("key"), F.col("id")], out_col="rn"
        ).collect()
    }
    w = Window.orderBy(F.col("key"), F.col("id"))
    want = {r.id: r.rn for r in df.withColumn("rn", F.row_number().over(w)).collect()}
    assert got == want and len(got) == 3


def test_asof_join_semantics(spark):
    """Inclusive as-of: equal timestamps match; earlier-only rows give
    NULLs; the latest at-or-before version wins."""
    from metrics_service_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, "k", 10), (2, "k", 5), (3, "k", 2), (4, "x", 10)],
        "eid long, k string, t long",
    )
    right = spark.createDataFrame(
        [("k", 5, "v5"), ("k", 8, "v8"), ("z", 1, "zz")],
        "k string, t long, val string",
    )
    out = {
        r.eid: r.val
        for r in asof_join(
            left, right,
            left_key="k", right_key="k", left_ts="t", right_ts="t",
            value_cols=["val"],
        ).collect()
    }
    assert out == {1: "v8", 2: "v5", 3: None, 4: None}


try:
    from hypothesis import given, settings, strategies as st

    HAVE_HYPOTHESIS = True
except ImportError:  # pragma: no cover
    HAVE_HYPOTHESIS = False


if HAVE_HYPOTHESIS:

    @given(
        left=st.lists(
            st.tuples(st.integers(0, 3), st.integers(0, 50)), min_size=1, max_size=25
        ),
        right=st.lists(
            st.tuples(st.integers(0, 3), st.integers(0, 50)), min_size=1, max_size=25
        ),
    )
    @settings(max_examples=10, deadline=None)
    def test_asof_join_matches_pandas_merge_asof(spark, left, right):
        """asof_join == pandas merge_asof(direction='backward',
        allow_exact_matches=True) on random keyed timelines."""
        import pandas as pd

        from metrics_service_spark.operators.asof import asof_join

        # right side unique per (key, ts) — ambiguous as-of is undefined
        rmap = {(k, t): f"v{k}_{t}" for k, t in right}
        ldf = spark.createDataFrame(
            [(i, k, t) for i, (k, t) in enumerate(left)], "eid long, k long, t long"
        )
        rdf = spark.createDataFrame(
            [(k, t, v) for (k, t), v in sorted(rmap.items())],
            "k long, t long, val string",
        )
        got = {
            r.eid: r.val
            for r in asof_join(
                ldf, rdf,
                left_key="k", right_key="k", left_ts="t", right_ts="t",
                value_cols=["val"],
            ).collect()
        }
        lp = pd.DataFrame(
            [(i, k, t) for i, (k, t) in enumerate(left)], columns=["eid", "k", "t"]
        ).sort_values("t", kind="stable")
        rp = pd.DataFrame(
            [(k, t, v) for (k, t), v in sorted(rmap.items())],
            columns=["k", "t", "val"],
        ).sort_values("t", kind="stable")
        merged = pd.merge_asof(lp, rp, on="t", by="k", direction="backward")
        want = {
            int(r.eid): (None if pd.isna(r.val) else r.val)
            for r in merged.itertuples()
        }
        assert got == want


def test_asof_join_null_value_fields(spark):
    """A newer right version that explicitly NULLs a field must win
    whole — per-column carry-forward would resurrect the older value."""
    from metrics_service_spark.operators.asof import asof_join

    left = spark.createDataFrame([(1, "k", 3)], "eid long, k string, t long")
    right = spark.createDataFrame(
        [("k", 1, 10, None), ("k", 2, None, 20)],
        "k string, t long, a long, b long",
    )
    row = asof_join(
        left, right,
        left_key="k", right_key="k", left_ts="t", right_ts="t",
        value_cols=["a", "b"],
    ).collect()[0]
    assert row.a is None and row.b == 20  # the t=2 row, whole


def test_asof_join_rejects_value_col_collision(spark):
    """value_cols colliding with left columns would produce duplicate
    output names; the guard raises instead."""
    import pytest as _pytest

    from metrics_service_spark.operators.asof import asof_join

    left = spark.createDataFrame([(1, 10, "x")], "k long, ts long, price string")
    right = spark.createDataFrame([(1, 5, "y")], "k long, ts long, price string")
    with _pytest.raises(ValueError, match="collide"):
        asof_join(
            left, right,
            left_key="k", right_key="k",
            left_ts="ts", right_ts="ts",
            value_cols=["price"],
        )


def test_exact_group_quantiles_matches_bruteforce(spark):
    """Histogram-rank quantiles must equal the textbook discrete
    quantile (smallest value whose rank reaches ceil(n*p/100)) on
    random multisets with heavy ties."""
    import math
    import random

    from metrics_service_spark.operators.rank import exact_group_quantiles

    rng = random.Random(3)
    rows = [
        (f"g{rng.randrange(3)}", rng.randrange(20)) for _ in range(500)
    ]
    df = spark.createDataFrame(rows, "g string, v long")
    percents = [1, 25, 50, 75, 90, 99, 100]
    got = {
        r.g: [r[f"p{p}"] for p in percents]
        for r in exact_group_quantiles(
            df, ["g"], "v", percents=percents
        ).collect()
    }
    by_g: dict = {}
    for g, v in rows:
        by_g.setdefault(g, []).append(v)
    for g, vs in by_g.items():
        vs.sort()
        want = [vs[math.ceil(len(vs) * p / 100) - 1] for p in percents]
        assert got[g] == want, (g, got[g], want)


def test_auc_cumulative_window_is_bucket_partitioned(spark, sf_dir, executed_plan):
    """global_cumsum's in-bucket window must be PARTITIONED (by the
    coarse score bucket) — the only single-partition exchanges allowed
    in the AUC plan are the tiny per-bucket offset frame and the final
    one-row aggregate."""
    from metrics_service_spark.catalog.llm import q_doc_classifier_auc

    plan = executed_plan(q_doc_classifier_auc(spark, sf_dir))
    assert "__bkt" in plan  # the bucketed window/join survived
    assert plan.count("Exchange SinglePartition") <= 2
