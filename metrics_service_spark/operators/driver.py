"""The bounded driver collect behind every driver finish.

A driver finish moves a frame that is small in practice (an edge set,
a word-frequency table, a linkage projection) to the driver once and
finishes the work there, instead of paying a Spark job per loop round
or barrier.  Each one bounds what crosses: a `limit(limit + 1)` collect
truncates the transfer on a large input, and its +1 sentinel row is
how overflow is detected.  The caller decides what overflow means:
the connected-components, BFS, chain-walk and linkage finishes fall
back to their distributed paths, the BPE trainers and the
MetricsRequest family resolution raise.

`_fits_bytes` is the plan-side twin: it asks Spark's own size estimate
whether a frame is small enough to plan in one partition, without
running a job.  `_one_task` applies it, with a file-count bound, to the
scan that feeds a window-derived graph input: under adaptive execution
every shuffle stage is a job of its own, and a small input read in one
partition needs no exchange under its windows.
"""

from __future__ import annotations

from typing import TYPE_CHECKING

from pyspark.sql import DataFrame

if TYPE_CHECKING:
    import pyarrow as pa

#: size bound of `_one_task`: Spark's size estimate, in bytes, up to
#: which a scan is read in one task.  That task reads and sorts what
#: several did, and a distributed loop downstream inherits its one
#: partition.  Measured on order_components (4 cores, SCALE.md
#: "One-task graph inputs"): the one-task read won at sf0.1 (a 3 MB
#: estimate) and lost from 9 MB up.  `read_table` reads a snapshot on
#: the driver into one partition up to the same estimate (SCALE.md
#: "Snapshot read: driver vs Spark").
ONE_TASK_BYTES = 4 * 1024 * 1024

#: file-count bound of `_one_task`: one task opens every file of the
#: scan in turn, so past a few files the exchange it saves costs less
#: than the serial reads.  On order_components the one-task read won
#: at 4 files and lost at 64.
ONE_TASK_FILES = 16


def _bounded_arrow(df: DataFrame, limit: int) -> pa.Table | None:
    """`df`'s rows as one Arrow table, in ONE Spark job, or None when
    `df` holds more than `limit` rows.

    The `limit(limit + 1)` sentinel is a CollectLimit: over more than
    one partition it gathers them through a single-partition shuffle
    stage, over one partition (a `_one_task` input, a local relation)
    it reads the partition with no stage of its own."""
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


def _one_task(df: DataFrame) -> DataFrame:
    """`df` coalesced to one partition when it is small, else `df`.

    Small means Spark's size estimate is within ONE_TASK_BYTES
    (`_fits_bytes`) and the scan spans at most ONE_TASK_FILES files
    (`inputFiles`, read from the plan's file index).  Neither check runs
    a job.  Meant for a file scan under windows or aggregates that would
    otherwise each need an exchange: one partition satisfies their
    distribution, so the plan shuffles nothing, and a driver collect
    over it needs no limit stage either.  Not for Spark scans of
    manifest tables of many small files, where one task reading them
    all loses (SCALE.md "MetricsRequest: one partition vs
    distributed"); a small snapshot reaches one partition through
    `read_table`'s driver read instead, where pyarrow reads the files
    on driver threads (SCALE.md "Snapshot read: driver vs Spark")."""
    if _fits_bytes(df, ONE_TASK_BYTES) and len(df.inputFiles()) <= ONE_TASK_FILES:
        return df.coalesce(1)
    return df
