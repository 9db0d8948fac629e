"""The bounded driver collect behind every driver finish.

A driver finish moves a frame that is small in practice (an edge set,
a word-frequency table, a linkage projection) to the driver once and
finishes the work there, instead of paying a Spark job per loop round
or barrier.  Each one bounds what crosses: a `limit(limit + 1)` collect
truncates the transfer on a large input, and its +1 sentinel row is
how overflow is detected.  The caller decides what overflow means:
the connected-components and linkage finishes fall back to their
distributed paths, the BPE trainers and the MetricsRequest family
resolution raise.

`_fits_bytes` is the plan-side twin: it asks Spark's own size estimate
whether a frame is small enough to plan in one partition, without
running a job.
"""

from __future__ import annotations

from typing import TYPE_CHECKING

from pyspark.sql import DataFrame

if TYPE_CHECKING:
    import pyarrow as pa


def _bounded_arrow(df: DataFrame, limit: int) -> pa.Table | None:
    """`df`'s rows as one Arrow table, in ONE Spark job, or None when
    `df` holds more than `limit` rows."""
    tbl = df.limit(limit + 1).toArrow()
    return None if tbl.num_rows > limit else tbl


def _fits_bytes(df: DataFrame, limit: int) -> bool:
    """True when Spark's size estimate of `df` is at most `limit` bytes.

    Reads the ANALYZED plan's statistics: no job runs, and unlike the
    optimized plan's they need no optimizer pass (~1 ms against ~0.1 s
    on a many-file table union).  A file scan or a `range` reports its
    size; a `createDataFrame` or checkpointed frame (a LogicalRDD)
    reports `spark.sql.defaultSizeInBytes`, Long.MaxValue unless set,
    so an input of unknown size does not fit."""
    return df._jdf.queryExecution().analyzed().stats().sizeInBytes() <= limit
