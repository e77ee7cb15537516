"""Exchange widths for fan-out operators.

AQE handles skew from hot entities (common publishers/authors) in
sort-merge joins (spark.sql.adaptive.skewJoin.enabled, on in
session.get_spark), and it sizes post-shuffle partitions from
map-output bytes. What it cannot see is a blow-up AFTER the exchange (a
bucket self-join, per-query scoring, a feature explode):
`fanout_partitions` gives those operators the width to pin their
exchange at.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame


def fanout_partitions(df: DataFrame, override: int | None = None) -> int:
    """Width for an operator-pinned exchange feeding a known fan-out
    (bucket self-joins, per-query scoring, feature explodes — r06).

    AQE sizes post-shuffle partitions from MAP OUTPUT bytes and cannot
    see a downstream blow-up, so these exchanges must not be left to
    coalescing; the operator pins them. Default is
    `sparkContext.defaultParallelism` — cores locally, total executor
    cores on a cluster, i.e. proportional to the compute the job was
    given rather than a tuned constant. For cluster jobs whose
    post-fan-out volume per core exceeds a comfortable task size, set
    `SPARK_GRAFT_FANOUT_PARTITIONS` (or pass `override`) to
    fan-out-bytes / target-partition-size; the local default keeps
    the driver bench untouched."""
    if override:
        return int(override)
    env = os.environ.get("SPARK_GRAFT_FANOUT_PARTITIONS")
    if env:
        return int(env)
    return df.sparkSession.sparkContext.defaultParallelism

