"""Sinks.

The reference's only sinks are JSON rows to the HTTP client
(query.py:63) and a client-side CSV export with quote-escaping
(index.html:400-430, A25). Server-side we provide the real distributed
writers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_parquet(df: DataFrame, path: str, mode: str = "overwrite", partition_by: list[str] | None = None) -> None:
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_csv(df: DataFrame, path: str, mode: str = "overwrite", header: bool = True) -> None:
    # Spark's CSV writer quote-escapes embedded commas/quotes natively —
    # the distributed equivalent of the reference's manual JS escaping
    # (index.html:411-417).
    df.write.mode(mode).option("header", str(header).lower()).csv(path)


def write_orc(df: DataFrame, path: str, mode: str = "overwrite", partition_by: list[str] | None = None) -> None:
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.orc(path)


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    mode: str = "append",
    batchsize: int = 10_000,
    num_partitions: int | None = None,
    **options: str,
) -> None:
    """JDBC sink (pairs with readers.read_jdbc). Parallelism contract:
    each PARTITION opens one connection and writes ``batchsize``-row
    batches, so the write concurrency IS the partition count — cap it
    with ``num_partitions`` (coalesce) so a wide DataFrame doesn't open
    hundreds of connections against the database; raise ``batchsize``
    for round-trip-dominated links. The Derby round-trip test
    (tests/test_engine.py) exercises this path."""
    if num_partitions is not None:
        df = df.coalesce(num_partitions)
    opts = {"batchsize": str(batchsize), **options}
    df.write.mode(mode).jdbc(url, table, properties=opts)


def estimate_bytes_per_row(df: DataFrame, sample_rows: int = 2000) -> float:
    """Compression-aware bytes/row estimate from a BOUNDED driver-side
    sample (the snappy-parquet-serialized size of ``sample_rows`` rows)
    — the sizing primitive behind :func:`write_size_targeted_parquet`
    and the CoW join-view compaction (streaming/events.py).  Never
    scans more than the sample; an empty input returns a safe default
    (nothing will be written anyway)."""
    import io as _io

    import pyarrow as pa
    import pyarrow.parquet as pq

    sample = df.limit(sample_rows).toArrow()
    if sample.num_rows == 0:
        return 256.0
    buf = _io.BytesIO()
    pq.write_table(pa.table(sample), buf, compression="snappy")
    return max(buf.tell() / sample.num_rows, 1.0)


def write_size_targeted_parquet(
    df: DataFrame,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    partition_by: list[str] | None = None,
    sample_rows: int = 2000,
    mode: str = "overwrite",
) -> dict:
    """Parquet writer that targets a FILE SIZE instead of a task count —
    the small-files / giant-files hygiene knob a 100 TB lake lives or
    dies by (a million 1 MB files kill the driver's listing and every
    scan's scheduling; 10 GB files kill task parallelism and
    straggler recovery).

    Mechanism: estimate bytes/row from a bounded driver-side sample
    (Arrow-serialized size of ``sample_rows`` rows — a cheap,
    compression-aware proxy), derive ``maxRecordsPerFile`` for the
    target, and let every write task roll files at that row count.
    ``maxRecordsPerFile`` bounds file SIZE without any repartition —
    no extra shuffle; task counts stay whatever the upstream plan
    produced, oversized tasks simply emit several files.

    Returns the knobs used ``{bytes_per_row, max_records_per_file}``
    so callers can log/audit them (the no-silent-caps rule).  The
    estimate is a heuristic — parquet encodes columns, not rows, so
    real files land within ~2× of target; exactness is not the point,
    order-of-magnitude file sizing is."""
    bytes_per_row = estimate_bytes_per_row(df, sample_rows)
    max_records = max(int(target_file_bytes / bytes_per_row), 1)
    writer = (
        df.write.mode(mode).option("maxRecordsPerFile", str(max_records))
    )
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)
    return {"bytes_per_row": bytes_per_row, "max_records_per_file": max_records}
