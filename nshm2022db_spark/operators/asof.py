"""Nearest-value ("as-of"-style) lookup — J11 in SURVEY §2.3.

Reference semantics (nshmdb.py:204-221): round each requested value UP to
the smallest distinct domain value ≥ it, clamped to the domain maximum,
via np.searchsorted over the sorted distinct values — then equi-join on the
rounded value.

Spark has no native as-of join; two scale regimes, plus a driver twin:

* ``nearest_ge_values`` — the reference's searchsorted itself, on values
  already collected to the driver. For a domain of a few dozen rows
  (one rupture's MFD bins in most_likely_fault) a Spark plan costs more
  than the data: its job launches are the latency.
* ``nearest_ge_lookup`` — range-join + min-aggregate. One shuffle-free
  broadcast range join when targets are small (the common case — the
  reference's targets are a user-supplied dict), grouped min, coalesce to
  the global max for the clamp. Works at any domain size because the
  domain side is never collected.
* ``nearest_ge_lookup_per_key`` — the same semantics partitioned by a key
  (fault_id in the reference's most_likely_fault): range condition + window
  ``row_number() == 1`` per (key, target). AQE handles skew.
"""

from __future__ import annotations

from typing import Iterable, Sequence

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def nearest_ge_values(
    domain: Iterable[float], targets: Sequence[float]
) -> list[float | None]:
    """For each target, in order: min distinct domain value ≥ it, clamped
    to the domain max (nshmdb.py:215-221). An empty domain rounds every
    target to None, as ``nearest_ge_lookup`` yields a null ``rounded``."""
    d = np.unique(np.fromiter(domain, dtype=float))
    if not len(d):
        return [None] * len(targets)
    idx = np.searchsorted(d, np.asarray(targets, dtype=float))
    return d[np.minimum(idx, len(d) - 1)].tolist()


def nearest_ge_lookup(domain: DataFrame, value_col: str, targets: DataFrame, target_col: str) -> DataFrame:
    """For each target t: min distinct domain value ≥ t, clamped to max.

    Returns the DISTINCT (``target_col``, ``rounded``) pairs — any other
    targets columns are dropped (join the result back on ``target_col``
    to re-attach payload; for targets carrying per-row keys use the
    per-key variant below, which preserves them). Plan: broadcast targets into a
    range join against the distinct domain (no full sort, no collect), then
    one hash-agg; the clamp max is a scalar broadcast join.

    Cost note: the range join is broadcast-nested-loop, so CPU is
    O(|distinct domain| x |distinct targets|) before the partial min-agg
    — right for the reference's handful-of-targets lookup shape. BULK
    callers (many targets, or targets carrying keys) should use
    ``nearest_ge_lookup_per_key`` below: it sorts within key partitions
    and pays one exchange instead of the cross product.
    """
    d = domain.select(F.col(value_col).alias("__v")).distinct()
    t = F.broadcast(targets.select(F.col(target_col)).distinct())
    ge_min = (
        d.join(t, F.col("__v") >= F.col(target_col), "inner")
        .groupBy(target_col)
        .agg(F.min("__v").alias("__ge"))
    )
    global_max = d.agg(F.max("__v").alias("__max"))
    # left side = the distinct targets, so each target yields ONE row
    # however many targets rows share it (a caller joining the result
    # back on target_col must not multiply)
    return (
        t.join(ge_min, target_col, "left")
        .crossJoin(F.broadcast(global_max))
        .select(
            F.col(target_col),
            F.coalesce(F.col("__ge"), F.col("__max")).alias("rounded"),
        )
    )


def nearest_ge_lookup_per_key(
    domain: DataFrame,
    key_col: str,
    value_col: str,
    targets: DataFrame,
    target_key_col: str,
    target_col: str,
) -> DataFrame:
    """Per-key nearest-≥ with clamp — the most_likely_fault shape
    (nshmdb.py:204-234): targets carry (key, requested value); result is
    (key, requested, rounded) where rounded is the smallest distinct
    domain value ≥ requested within that key, clamped to the key's max."""
    d = domain.select(F.col(key_col).alias("__k"), F.col(value_col).alias("__v")).distinct()
    t = targets.select(
        F.col(target_key_col).alias("__k"), F.col(target_col).alias("__t")
    ).distinct()

    w = Window.partitionBy("__k", "__t").orderBy(F.col("__v").asc())
    ge = (
        d.join(t, "__k")
        .filter(F.col("__v") >= F.col("__t"))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("__k", "__t", F.col("__v").alias("__ge"))
    )
    key_max = d.groupBy("__k").agg(F.max("__v").alias("__max"))
    return (
        t.join(ge, ["__k", "__t"], "left")
        .join(key_max, "__k", "left")
        .select(
            F.col("__k").alias(target_key_col),
            F.col("__t").alias(target_col),
            F.coalesce(F.col("__ge"), F.col("__max")).alias("rounded"),
        )
    )
