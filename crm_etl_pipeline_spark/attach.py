"""Attach a small frame to every row of a larger one.

Many steps join a small aggregate onto every row: a total, an extent,
corpus statistics, quantile cuts, an anchor. Spark plans that as a
BroadcastHashJoin only while the join keeps an equi-key. A ``lit(1)``
key on both sides is constant-folded by Catalyst, the equi-condition
disappears and the join degrades to a BroadcastNestedLoopJoin. So the
key here is ``one(c)``: 1 on every row, but computed from a column, so
it cannot be folded.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def one(col: str | Column) -> Column:
    """1 on every row of any frame that has ``col``, and not foldable.

    ``hash`` is never NULL (a NULL input hashes to the seed), and
    ``least(greatest(h, 1), 1)`` is 1 for every integer ``h``, so no
    value of ``col`` — NULL, NaN, negative, zero, empty — changes it.
    ``col`` must not be a literal (its hash would fold) or a map (Spark
    does not hash maps). As a window partition key it puts every row in
    one partition through a hash exchange rather than SinglePartition."""
    return F.least(F.greatest(F.hash(col), F.lit(1)), F.lit(1))


def attach(df: DataFrame, small: DataFrame, how: str = "inner") -> DataFrame:
    """Every row of ``df`` paired with every row of ``small``, planned as a
    BroadcastHashJoin that broadcasts ``small``. The keys are ``one`` of
    each frame's first column. The result has ``df``'s columns, then
    ``small``'s. ``how="left"`` keeps ``df``'s rows when ``small`` is
    empty, with ``small``'s columns NULL."""
    return (
        df.withColumn("_k", one(df.columns[0]))
        # small is bounded by the caller (a total, an extent, k centroids, a top-k)
        .join(F.broadcast(small.withColumn("_k", one(small.columns[0]))), "_k", how)
        .drop("_k")
    )
