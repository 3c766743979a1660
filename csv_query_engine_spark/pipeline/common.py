"""Shared driver-side helpers for the pipeline operators."""

from __future__ import annotations

from pyspark.sql import DataFrame


def spread(df: DataFrame, bytes_per_partition: int | None = None) -> DataFrame:
    """Decouple compute parallelism from scan layout: a single-file
    scan arrives as ONE partition and serializes the per-row stages
    (measured 50 s single-core for the sf0.1 shingle stage; 25 s for
    repetition stats -> ~2 s spread). Only under-partitioned inputs
    repartition — an input already at session parallelism (the 100 TB
    case: thousands of scan splits) passes through, avoiding a
    pointless full shuffle of the raw rows.

    ``bytes_per_partition`` (round 15, guide §2/§4): sizes the
    repartition by DATA VOLUME instead of core count, for stages whose
    per-row work is a vectorized native kernel (numpy/Arrow batches
    over packed embedding vectors). Those kernels amortize per-batch,
    so splitting a ~1 MB corpus across 32 Python workers pays 32
    worker spawns for microseconds of math each — the round-14 scaling
    block measured the whole Arrow family 2-7x FASTER on 8 cores than
    32 at sf0.1. The partition count derives from Catalyst's
    optimized-plan size estimate (no job runs): ceil(est/bpp), capped
    at session parallelism, floored at 1; an over-estimate merely
    falls back to today's core-count behavior. Do NOT set it for
    interpreted/per-row-heavy stages (text shingling, media decode)
    where per-row cost dwarfs batch overhead and full-core spread is
    the measured win.

    Partition-count probe: the Java-side ``jdf.rdd()`` handle — it
    plans the query but skips the Python RDD wrapper's serializer
    setup that ``df.rdd`` pays on every call (this helper runs on
    every pipeline operator invocation). Falls back to ``df.rdd``
    where the internal handle is unavailable (e.g. Spark Connect).
    """
    p = df.sparkSession.sparkContext.defaultParallelism
    try:
        n = df._jdf.rdd().getNumPartitions()
    except AttributeError:  # Spark Connect / API change
        n = df.rdd.getNumPartitions()
    want = p
    if bytes_per_partition:
        try:
            est = int(
                str(
                    df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
                )
            )
            want = max(1, min(p, -(-est // int(bytes_per_partition))))
        except Exception:  # estimate unavailable: core-count fallback
            want = p
    if n >= want:
        return df
    return df.repartition(want)


def pin(df: DataFrame) -> DataFrame:
    """Materialize a just-persisted DataFrame's cache (one count job)
    before dependent branches fan out as independent leaf jobs. Returns
    the input for chaining.

    Eager cache pins (round 14/15): a just-persisted multi-consumer
    table whose consumers materialize as INDEPENDENT leaf jobs (AQE
    broadcast futures, concurrent exchange materializations) races its
    own cold cache — each leg re-runs the upstream pipeline (measured on
    the media dup-pair operators, round 14).  Whether a site keeps its
    pin is decided per site, by a parent/change A/B of that site."""
    df.count()
    return df
