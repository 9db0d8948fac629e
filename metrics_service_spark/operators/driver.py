"""The bounded driver collect behind every driver finish.

A driver finish moves a frame that is small in practice (an edge set,
a word-frequency table, a linkage projection) to the driver once and
finishes the work there, instead of paying a Spark job per loop round
or barrier.  Each one bounds what crosses: a `limit(limit + 1)` collect
truncates the transfer on a large input, and its +1 sentinel row is
how overflow is detected.  The caller decides what overflow means:
the connected-components and linkage finishes fall back to their
distributed paths, the BPE trainers raise.
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
