"""Motion-node parity API.

The reference's MPP-defining operator is Motion
(src/include/nodes/plannodes.h:1277-1311, executor nodeMotion.c): Gather
(N→1), Broadcast (N→all), Redistribute (hash N→N), Explicit (to a stored
segment id), optionally order-preserving.  Spark's shuffle service plays
the interconnect role; these helpers express Gather and Redistribute as
the partitioning operation Catalyst turns into the same exchange
(Broadcast is ``F.broadcast``).

They exist for API parity and for forcing a distribution when AQE's
choice must be overridden — in normal plans, let Catalyst place exchanges.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def gather(df: DataFrame, *, sort_by: list[Column] | None = None) -> DataFrame:
    """Gather Motion (N→1).  With sort_by, mirrors the order-preserving
    merge-receive (execMotionSortedReceiver, nodeMotion.c:106): a range
    exchange + sort rather than a single-partition funnel, so the 'merge'
    still happens in parallel."""
    if sort_by:
        return df.orderBy(*sort_by)
    return df.coalesce(1)


def redistribute(df: DataFrame, cols: list[str | Column], num_partitions: int | None = None) -> DataFrame:
    """Redistribute Motion (MOTIONTYPE_HASH): hash-partition on cols."""
    cs = [F.col(c) if isinstance(c, str) else c for c in cols]
    return df.repartition(num_partitions, *cs) if num_partitions else df.repartition(*cs)
