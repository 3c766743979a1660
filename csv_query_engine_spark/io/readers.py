"""Sources.

The reference ingests exactly one CSV via ``pd.read_csv`` behind a
``.csv`` extension gate (reference upload.py:20-25, operator A1) and binds
it to the fixed SQL name ``df`` (query.py:42-43, A4).  Here every source is
a distributed, lazily-planned ``spark.read`` so filters/column pruning
reach the scan, and "registration" is a temp view in the session catalog
instead of a module-level global (SURVEY.md §1).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

# Harness star schema + pipeline tables (TESTDATA.md).
TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


class IngestError(ValueError):
    """Raised for unreadable/ill-typed source input (reference A21 maps
    these to HTTP 400; here they are typed engine exceptions)."""


def read_csv(
    spark: SparkSession,
    path: str,
    header: bool = True,
    infer_schema: bool = True,
    require_csv_extension: bool = True,
    **options: str,
) -> DataFrame:
    """CSV scan (reference A1). Extension gate preserved but bypassable —
    the reference rejects non-``.csv`` uploads outright (upload.py:20-22).

    ``inferSchema=True`` costs an extra pass; for repeated production
    loads pass an explicit ``schema`` option instead.
    """
    if require_csv_extension and not path.lower().endswith(".csv"):
        raise IngestError(f"Only CSV files are supported, got: {os.path.basename(path)}")
    reader = (
        spark.read.option("header", str(header).lower())
        .option("inferSchema", str(infer_schema).lower())
        # Permissive mode + corrupt-record column instead of hard failure:
        .option("mode", "PERMISSIVE")
    )
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.csv(path)


# (session, abspath, mtime_ns, size) -> normalized DataFrame.  A
# DataFrame is a LAZY plan — memoizing it caches driver-side METADATA
# only (file listing + parquet footer schema, measured ~0.11-0.14 s per
# table per call), never rows: every action still reads the parquet
# files.  The mtime/size key drops the entry if the file is rewritten.
_PARQUET_PLAN_CACHE: dict[tuple, DataFrame] = {}


def _cached_parquet_normalized(spark: SparkSession, path: str) -> DataFrame:
    st = os.stat(path)
    key = (spark, os.path.abspath(path), st.st_mtime_ns, st.st_size)
    df = _PARQUET_PLAN_CACHE.get(key)
    if df is None:
        df = _normalize_nanos(spark.read.parquet(path))
        _PARQUET_PLAN_CACHE[key] = df
    return df


def load_tables(
    spark: SparkSession,
    sf_dir: str,
    names: tuple[str, ...] = TABLE_NAMES,
    register: bool = True,
) -> dict[str, DataFrame]:
    """Load the harness parquet tables from ``sf_dir`` and (optionally)
    register each under its own name. Missing tables are skipped so the
    loader works across harness versions.

    Per-(session, file) the lazy scan plan is memoized (see
    ``_PARQUET_PLAN_CACHE``) — a 192-query bench session otherwise
    re-lists and re-reads every footer per query (~0.14 s × tables ×
    queries of pure driver-side metadata work)."""
    # The harness events.parquet uses TIMESTAMP(NANOS); callers (e.g. the
    # driver) may hand us a session without the legacy conf, so set it
    # here — it is runtime-settable and load_tables is the single
    # chokepoint for harness reads.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    out: dict[str, DataFrame] = {}
    for name in names:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if not os.path.exists(path):
            continue
        df = _cached_parquet_normalized(spark, path)
        if register:
            df.createOrReplaceTempView(name)
        out[name] = df
    return out


def _normalize_nanos(df: DataFrame) -> DataFrame:
    """TIMESTAMP(NANOS) parquet columns arrive as long (see session.py
    ``nanosAsLong``); convert to µs timestamps so downstream code sees a
    timestamp column, matching DuckDB's read of the same file."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    for field in df.schema.fields:
        md = field.metadata or {}
        if isinstance(field.dataType, T.LongType) and md.get("__parquet_ts_nanos") is None:
            # Heuristic is unsafe in general; only the known harness column
            # `ts` is ns-encoded, so convert exactly that.
            if field.name == "ts":
                # Integer division — ns epochs exceed 2^53, so a double
                # roundtrip would lose sub-µs exactness.
                df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """Columnar ORC source (same vectorized reader + pushdown class as
    parquet; reference exposes only CSV — SURVEY.md §2 Tier B sources)."""
    return spark.read.orc(path)


def read_jdbc(
    spark: SparkSession,
    url: str,
    table: str,
    partition_column: str | None = None,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    num_partitions: int | None = None,
    predicates: list[str] | None = None,
    **options: str,
) -> DataFrame:
    """JDBC source (SURVEY.md §2 Tier B sources; the reference has no
    database ingest — its one source is the uploaded CSV).

    Scale contract: a bare ``spark.read.jdbc(url, table)`` issues ONE
    query through ONE task — useless beyond toy tables. Callers must
    pick a parallelism strategy:

    * ``partition_column`` + ``lower_bound``/``upper_bound`` +
      ``num_partitions`` — Spark ranges the numeric/date column into
      that many bounded queries (the standard path; pick an indexed,
      roughly-uniform column);
    * ``predicates`` — one arbitrary WHERE clause per partition, for
      sources where no single column ranges well.

    Filters and column pruning push into the remote database as SQL
    (``PushedFilters`` on the JDBC scan node), so the usual
    declare-then-prune style applies unchanged. Requires the
    database's JDBC driver jar on the Spark classpath
    (``spark.jars``); the test suite round-trips against the Derby
    driver Spark bundles, including ranged and predicate-partitioned
    reads (tests/test_engine.py::test_jdbc_roundtrip_derby).
    """
    if partition_column is not None:
        if lower_bound is None or upper_bound is None or num_partitions is None:
            raise IngestError(
                "partition_column requires lower_bound, upper_bound and num_partitions"
            )
        return spark.read.jdbc(
            url,
            table,
            column=partition_column,
            lowerBound=lower_bound,
            upperBound=upper_bound,
            numPartitions=num_partitions,
            properties=dict(options),
        )
    if predicates is not None:
        return spark.read.jdbc(url, table, predicates=predicates, properties=dict(options))
    return spark.read.jdbc(url, table, properties=dict(options))


def read_binary_files(
    spark: SparkSession,
    path: str,
    glob: str | None = None,
    recursive: bool = False,
) -> DataFrame:
    """Binary-file source (``binaryFile`` format): one row per file with
    (path, modificationTime, length, content) — the ingest path that
    feeds raw media files (images/audio/video blobs) into the
    multimodal pipeline (pipeline/multimodal.decode_media /
    decode_audio operate on exactly this ``content`` column).

    Scale: the source lists files driver-side but reads content in
    executors, splitting the file LIST across tasks (content itself is
    never splittable — one file, one task); pair it with
    ``spark.sql.files.maxPartitionBytes`` sizing and the `_spread`
    helpers downstream so a few huge files don't serialize the decode
    stage. ``pathGlobFilter`` prunes by name BEFORE content is read."""
    r = spark.read.format("binaryFile")
    if glob:
        r = r.option("pathGlobFilter", glob)
    if recursive:
        r = r.option("recursiveFileLookup", "true")
    return r.load(path)


def read_text_corpus(
    spark: SparkSession,
    path: str,
    whole_files: bool = False,
    glob: str | None = None,
) -> DataFrame:
    """Plain-text corpus ingest (``text`` format) normalized to the
    documents-table shape: (doc_id, source, text).

    ``whole_files=False`` (default): one document per LINE, doc_id =
    xxhash64(file, line) — splittable, the right mode for one-doc-per-
    line corpus dumps (the JSONL-without-JSON case).
    ``whole_files=True``: one document per FILE (``wholetext``), doc_id
    = xxhash64(file) — for directories of .txt files; like binaryFile,
    a whole file is one task, so compact many tiny files first.

    Scale: both modes read in executors with the file list split
    across tasks; ``pathGlobFilter`` prunes by name before any bytes
    are read; the hash ids are content-address stable (re-ingest gives
    identical ids — the property downstream dedup/split assignment
    relies on)."""
    from pyspark.sql import functions as F

    r = spark.read.format("text")
    if whole_files:
        r = r.option("wholetext", "true")
    if glob:
        r = r.option("pathGlobFilter", glob)
    df = r.load(path).select(
        F.col("value").alias("text"),
        F.input_file_name().alias("source"),
    )
    if whole_files:
        key = F.xxhash64("source")
    else:
        # line ids must be stable per (file, line content, occurrence) —
        # monotonically_increasing_id is partition-dependent, so hash
        # the content and disambiguate equal lines by occurrence count
        from pyspark.sql import Window as W

        occ = F.row_number().over(W.partitionBy("source", "text").orderBy(F.lit(1)))
        df = df.withColumn("_occ", occ)
        key = F.xxhash64("source", "text", "_occ")
    out = df.select(key.alias("doc_id"), "source", "text")
    return out


def read_csv_audited(
    spark: SparkSession,
    path: str,
    schema,
    header: bool = True,
    corrupt_col: str = "_corrupt_record",
    audit_dir: str | None = None,
    **options: str,
):
    """(clean_df, corrupt_df): CSV ingest with an explicit ingest-audit
    split — rows that parse against ``schema`` land in ``clean_df``
    (without the audit column); rows that don't land in ``corrupt_df``
    as their raw line for quarantine/repair. The production hardening of
    the reference's A1 upload (which aborts the whole file on any parse
    error, upload.py:31-33): at 100 TB a single mangled line must cost
    one quarantined row, not the batch.

    Mechanics: PERMISSIVE mode + ``columnNameOfCorruptRecord``; the
    schema must be explicit (Spark cannot infer + audit in one pass),
    and per Spark's contract the corrupt column must be materialized
    before filtering. Materialization is ONE pass that WRITES the split
    — a parquet write partitioned on a validity flag — and both return
    values read the split back with partition pruning. The earlier form
    cache()d the entire parsed input instead, which at the 100 TB
    framing is a full second copy of the dataset on executor storage;
    the split-write is the same single parse but lands as the columnar
    output you want anyway, and the quarantine side is durable (it
    survives the session for repair tooling) rather than evaporating
    with the cache. ``audit_dir`` must be a shared filesystem path in a
    real cluster deployment; the default temp dir is only correct in
    local mode (and is the caller's to clean up)."""
    from pyspark.sql import types as _T

    # Build a NEW StructType — StructType.add mutates self and returns
    # it, which would permanently graft the audit column onto the
    # caller's schema object (breaking its later reuse for
    # createDataFrame/writes).
    if corrupt_col in schema.fieldNames():
        full_schema = schema
    else:
        full_schema = _T.StructType(
            list(schema.fields) + [_T.StructField(corrupt_col, _T.StringType())]
        )
    reader = (
        spark.read.schema(full_schema)
        .option("header", str(header).lower())
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", corrupt_col)
    )
    for k, v in options.items():
        reader = reader.option(k, v)
    raw = reader.csv(path)
    from pyspark.sql import functions as F

    if audit_dir is None:
        import tempfile

        audit_dir = tempfile.mkdtemp(prefix="csv_audit_")
    # One parse pass, split at write time: _valid is an int partition
    # key (partition-value inference types ints but not booleans).
    (
        raw.withColumn(
            "_valid", F.when(F.col(corrupt_col).isNull(), F.lit(1)).otherwise(F.lit(0))
        )
        .write.mode("overwrite")
        .partitionBy("_valid")
        .parquet(audit_dir)
    )
    # Explicit read-back schema (data fields + the int partition key):
    # a zero-row input writes no partition directories, and schema
    # INFERENCE on the empty dir would throw — with the schema given,
    # the read returns an empty frame; it also pins _valid's partition
    # type instead of relying on partition-value inference.
    back_schema = _T.StructType(
        list(full_schema.fields) + [_T.StructField("_valid", _T.IntegerType())]
    )
    back = spark.read.schema(back_schema).parquet(audit_dir)
    clean = back.filter(F.col("_valid") == 1).drop("_valid", corrupt_col)
    corrupt = back.filter(F.col("_valid") == 0).select(
        F.col(corrupt_col).alias("raw_line")
    )
    return clean, corrupt


def read_parquet_evolving(spark: SparkSession, *paths: str) -> DataFrame:
    """Parquet read across files written under EVOLVING schemas:
    ``mergeSchema`` unions the footers' fields (missing columns read as
    NULL per file). The 100 TB reality — a table written over years
    gains columns — and the flag is off by default because footer
    merging costs a driver pass over every file; turn it on exactly
    where evolution happened."""
    return spark.read.option("mergeSchema", "true").parquet(*paths)
