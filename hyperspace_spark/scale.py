"""Skew-handling utilities for 100 TB-scale aggregations and joins.

Spark's AQE skew-join (spark.sql.adaptive.skewJoin.enabled) handles
skewed SORT-MERGE joins automatically; these helpers cover the cases AQE
does not:

- ``salted_agg``: two-phase aggregation for heavily-skewed GROUP BY keys
  (one key holding a large share of rows makes a single reducer the
  straggler).  Phase 1 groups by (key, salt) — the hot key fans out over
  ``salt_buckets`` reducers; phase 2 merges the partials.  Only
  decomposable aggregates qualify (sum/count/min/max/avg).
- ``salted_join``: replicate the small side ``salt_buckets`` times and
  salt the big side uniformly — for skewed keys in SHUFFLE joins where
  the small side is too big to broadcast but fine to replicate N×.
"""

from __future__ import annotations

from typing import TYPE_CHECKING

if TYPE_CHECKING:
    from pyspark.sql import DataFrame


_DECOMPOSABLE = {"sum", "count", "min", "max", "avg"}


def salted_agg(
    df: "DataFrame",
    keys: list[str],
    aggs: dict[str, tuple[str, str]],
    salt_buckets: int = 16,
) -> "DataFrame":
    """Two-phase skew-resistant aggregation.

    ``aggs`` maps output column -> (function, input column); functions:
    sum, count, min, max, avg.  count uses input column "*" for COUNT(*).

    Result is identical to ``df.groupBy(keys).agg(...)`` — tested — but
    the first shuffle distributes every key over ``salt_buckets``
    partitions, so a hot key cannot create a straggler reducer.
    """
    from pyspark.sql import functions as F

    for out, (fn, _col) in aggs.items():
        if fn not in _DECOMPOSABLE:
            raise ValueError(f"{out}: '{fn}' is not decomposable; use plain groupBy")

    salted = df.withColumn("_hs_salt", (F.rand(seed=42) * salt_buckets).cast("int"))

    partials = []
    finals = []
    for out, (fn, col) in aggs.items():
        if fn == "count":
            partials.append((F.count("*") if col == "*" else F.count(col)).alias(f"_p_{out}"))
            finals.append(F.sum(f"_p_{out}").alias(out))
        elif fn == "sum":
            partials.append(F.sum(col).alias(f"_p_{out}"))
            finals.append(F.sum(f"_p_{out}").alias(out))
        elif fn == "min":
            partials.append(F.min(col).alias(f"_p_{out}"))
            finals.append(F.min(f"_p_{out}").alias(out))
        elif fn == "max":
            partials.append(F.max(col).alias(f"_p_{out}"))
            finals.append(F.max(f"_p_{out}").alias(out))
        elif fn == "avg":
            # avg = sum of sums / sum of counts
            partials.append(F.sum(col).alias(f"_p_{out}__s"))
            partials.append(F.count(col).alias(f"_p_{out}__c"))
            finals.append(
                (F.sum(f"_p_{out}__s") / F.sum(f"_p_{out}__c")).alias(out)
            )

    phase1 = salted.groupBy(*keys, "_hs_salt").agg(*partials)
    return phase1.groupBy(*keys).agg(*finals)


def salted_join(
    big: "DataFrame",
    small: "DataFrame",
    big_key: str,
    small_key: str,
    salt_buckets: int = 8,
    how: str = "inner",
) -> "DataFrame":
    """Skew-resistant equi-join: salt the big side, replicate the small
    side per salt value.  Correct for inner and left joins on the big
    side (each big row matches exactly its salt's replica)."""
    from pyspark.sql import functions as F

    if how not in ("inner", "left", "left_outer"):
        raise ValueError("salted_join supports inner/left joins (big side preserved)")
    b = big.withColumn("_hs_salt", (F.rand(seed=42) * salt_buckets).cast("int"))
    s = small.crossJoin(
        F.broadcast(
            small.sparkSession.range(salt_buckets).select(F.col("id").cast("int").alias("_hs_salt"))
        )
    )
    joined = b.join(s, (b[big_key] == s[small_key]) & (b["_hs_salt"] == s["_hs_salt"]), how)
    return joined.drop("_hs_salt")


def ensure_min_parallelism(df: "DataFrame", target: int | None = None) -> "DataFrame":
    """Spread a narrow input across at least ``target`` partitions before
    a CPU-heavy per-row derivation (regex tokenization, shingling,
    vector math).

    Spark sizes scan partitions by BYTES (spark.sql.files.maxPartitionBytes),
    which is right for IO-bound plans but wrong for derivations whose cost
    per byte is high: a 1 GiB corpus arrives as ~8 partitions and the
    other cores idle.  At 100 TB inputs already split into far more tasks
    than cores, so the guard is a no-op there (getNumPartitions >= target
    -> return df unchanged, no shuffle); it only engages for small inputs,
    where the round-robin shuffle it adds costs less than the idle cores.
    """
    spark = df.sparkSession
    if target is None:
        target = spark.sparkContext.defaultParallelism
    # Partition count via the JVM DataFrame's RDD: df.rdd (the Python
    # wrapper) additionally builds the Arrow/pickle serializer lineage on
    # every call, and this guard sits on the hot build path of every text
    # pipeline.
    try:
        n = df._jdf.rdd().getNumPartitions()
    except Exception:  # e.g. Spark Connect: no _jdf
        # Internal partition-count inspection — must not trip the
        # enable()-routed .rdd (planning an internal frame here could
        # recurse into the very build this guard sits on).
        from hyperspace_spark.session import internal

        with internal():
            n = df.rdd.getNumPartitions()
    if n >= target:
        return df
    return df.repartition(target)
