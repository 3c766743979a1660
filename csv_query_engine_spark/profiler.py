"""Schema + semantic profiling (reference operators A2/A3).

The reference profiles each column into a ``{name, type, semantic_type}``
triple (reference csv_profiler.py:33-61, models.py:4-7):

* ``type``     ∈ {numeric, date, string} from pandas dtype + a
  ``pd.to_datetime`` content probe;
* ``semantic_type`` ∈ {city, service, date, other} from column-NAME
  keyword matching (keyword lists csv_profiler.py:9-21) with a content
  probe fallback (csv_profiler.py:24-29).

Two verified reference bugs are intentionally FIXED here (SURVEY.md §1):

* the reference's date probe uses ``errors='coerce'`` which never raises,
  so *every* string column was typed "date" (csv_profiler.py:44-50);
  we require a parse-success rate ≥ ``DATE_PARSE_THRESHOLD`` over a
  sample instead;
* the content-probe fallback likewise returned 'date' for any non-null
  column, making 'other' unreachable (csv_profiler.py:24-31); same fix.

Scale: typing comes from Spark's schema (free); the date probe runs on a
driver-side sample of ``sample_rows`` rows, never a full scan.  A sample
value that does not start with a digit fails without a parse
(:func:`_is_date_column`).
"""

from __future__ import annotations

from dataclasses import asdict, dataclass
from datetime import datetime

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from csv_query_engine_spark.nlsql.generator import quote_identifier

# Keyword lists are the reference's spec verbatim (csv_profiler.py:9-21).
CITY_KEYWORDS = ("city", "location", "place", "town", "state", "country", "region", "area")
SERVICE_KEYWORDS = ("service", "product", "type", "category", "item", "name", "title")
DATE_KEYWORDS = ("date", "time", "timestamp", "created", "updated", "occurred")

DATE_PARSE_THRESHOLD = 0.9
DEFAULT_SAMPLE_ROWS = 1000

# strptime formats the date probe attempts, mirroring what pandas'
# "mixed" inference accepted in practice for the reference's inputs.
_PY_FORMATS = ("%Y-%m-%dT%H:%M:%S", "%Y-%m-%d %H:%M:%S", "%Y-%m-%d", "%Y/%m/%d", "%m/%d/%Y", "%d-%m-%Y")


@dataclass(frozen=True)
class ColumnInfo:
    """API contract mirroring reference models.py:4-7."""

    name: str
    type: str  # numeric | date | string
    semantic_type: str  # city | service | date | other

    def as_dict(self) -> dict[str, str]:
        return asdict(self)


def _base_type(dt: T.DataType) -> str:
    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType, T.FloatType, T.DoubleType, T.DecimalType)):
        return "numeric"
    if isinstance(dt, (T.DateType, T.TimestampType, T.TimestampNTZType)):
        return "date"
    return "string"


def _parses_as_date(s: str) -> bool:
    """Whether ``s`` parses under one of the probe formats."""
    for fmt in _PY_FORMATS:
        try:
            datetime.strptime(s, fmt)
            return True
        except ValueError:
            continue
    return False


def _is_date_column(values: list) -> bool:
    """Whether at least ``DATE_PARSE_THRESHOLD`` of the non-blank sample
    values parse as a date/timestamp.

    Driver-side over an already-collected sample.  Every format opens
    with ``%Y``, ``%m`` or ``%d``, whose regexes need a leading ``\\d``
    (or a space, which ``strip()`` removed), so a value whose first
    character is not a decimal digit fails without a parse.
    """
    stripped = [s for s in (str(v).strip() for v in values if v is not None) if s]
    ok = sum(1 for s in stripped if s[0].isdecimal() and _parses_as_date(s))
    return bool(stripped) and ok / len(stripped) >= DATE_PARSE_THRESHOLD


def detect_semantic_type(name: str, sample: list | None = None, parsed_as_date: bool = False) -> str:
    """Name-keyword semantic typing (A3). Precedence mirrors the
    reference (csv_profiler.py:4-31): city > service > date-by-name >
    date-by-content > other — with the content probe fixed to require a
    real parse-rate instead of always succeeding.  ``profile`` passes the
    answer as ``parsed_as_date`` and no sample; a ``sample`` is probed by
    :func:`_is_date_column`, which parses no value that does not start
    with a digit."""
    lower = name.lower()
    if any(k in lower for k in CITY_KEYWORDS):
        return "city"
    if any(k in lower for k in SERVICE_KEYWORDS):
        return "service"
    if any(k in lower for k in DATE_KEYWORDS):
        return "date"
    if parsed_as_date:
        return "date"
    if sample is not None and _is_date_column(sample):
        return "date"
    return "other"


def profile(df: DataFrame, sample_rows: int = DEFAULT_SAMPLE_ROWS) -> list[ColumnInfo]:
    """Profile every column into ColumnInfo (A2+A3).

    One bounded sample collection serves all string columns' probes;
    numeric/timestamp columns are typed from the schema alone.
    """
    string_cols = [f.name for f in df.schema.fields if _base_type(f.dataType) == "string"]
    rows = df.select(*[qcol(c) for c in string_cols]).limit(sample_rows).collect() if string_cols else []
    samples = {c: [row[i] for row in rows] for i, c in enumerate(string_cols)}

    out: list[ColumnInfo] = []
    for field in df.schema.fields:
        col_type = _base_type(field.dataType)
        if col_type == "string" and _is_date_column(samples[field.name]):
            col_type = "date"
        out.append(ColumnInfo(field.name, col_type, detect_semantic_type(field.name, None, col_type == "date")))
    return out


def low_cardinality_values(
    df: DataFrame, max_distinct: int = 50, columns: list[str] | None = None
) -> dict[str, list[str]]:
    """``{column: sorted distinct values}`` for every STRING column
    whose cardinality is ≤ ``max_distinct`` — the data-derived
    generalization of the reference's hard-coded city keyword list
    (sql_generator.py:56-63): the NL grammar's value-equality rule
    (nlsql/extended.py, round 12) matches question tokens against these
    value sets instead of one baked-in list.

    Scale: pass 1 is ONE aggregate of approx_count_distinct over all
    string columns (map-side combined, no value materialization); only
    columns passing the approx prefilter (with 2× headroom for the
    sketch's error) reach pass 2, a single aggregate of capped
    sort_array(collect_set(...)) whose state is bounded by the
    prefilter.  Columns whose exact distinct count still exceeds the
    cap are dropped — the value list must be complete or absent, never
    truncated (a partial list would silently miss filters)."""
    cols = [
        f.name
        for f in df.schema.fields
        if _base_type(f.dataType) == "string" and (columns is None or f.name in columns)
    ]
    if not cols:
        return {}
    approx = df.agg(
        *[F.approx_count_distinct(qcol(c)).alias(f"_a_{i}") for i, c in enumerate(cols)]
    ).collect()[0]
    keep = [c for i, c in enumerate(cols) if approx[f"_a_{i}"] <= 2 * max_distinct]
    if not keep:
        return {}
    row = df.agg(
        *[
            F.slice(
                F.sort_array(F.collect_set(qcol(c))), 1, max_distinct + 1
            ).alias(f"_v_{i}")
            for i, c in enumerate(keep)
        ]
    ).collect()[0]
    return {
        c: list(row[f"_v_{i}"])
        for i, c in enumerate(keep)
        if len(row[f"_v_{i}"]) <= max_distinct
    }


def qcol(name: str) -> F.Column:
    """Column reference by LITERAL name — backtick-quoted so headers
    containing dots, spaces, or backticks (CSV ingests) resolve as one
    column instead of parsing as struct access (ADVICE round 10).  Also
    the all-columns references of ``postprocess``."""
    return F.col(quote_identifier(name))


def table_profile(
    df: DataFrame,
    cols: list[str] | None = None,
    exact_distinct: bool = True,
) -> DataFrame:
    """Distributed one-pass column statistics — the DISTRIBUTED face of
    the reference's profiler (reference csv_profiler.py:33-61 profiles
    a pandas frame on the driver; this profiles a 100 TB table without
    collecting it): one row per column with non-null / null counts,
    distinct count, numeric min/max (``min_num``/``max_num``, raw
    values — no arithmetic, so IEEE-identical cross-engine) and
    lexicographic/temporal min/max rendered as strings
    (``min_str``/``max_str``).  Sentinels, not NULLs, fill the
    inapplicable side (CLAUDE.md nullable-output rule): -1.0 for the
    numeric pair on non-numeric columns, '' for the string pair on
    numeric ones.

    The plain statistics (counts, min/max) come from ONE aggregation
    pass; the per-column rows are then unrolled driver-free with
    ``inline`` over a literal struct array (a 1-row plan, no shuffle).
    ``exact_distinct=True`` runs the K COUNT(DISTINCT)s as a SECOND,
    distinct-only aggregation pass crossJoined back as a 1-row
    broadcast — measured 2.5× faster than mixing distinct and plain
    aggregates in one agg (the mixed form's Expand multiplies every
    input row (K+1)× through partial aggregation AND the wide mixed
    HashAggregate falls off codegen: 3.1 s vs 1.2 s warm on 150k-row
    orders, BASELINE.md round 10; the Expand factor grows with column
    count, so the split widens its lead on wide tables).  Pass
    ``exact_distinct=False`` for approx_count_distinct folded into the
    single plain pass (no second scan, no Expand, mergeable HLL++ —
    the 100 TB default where the scan itself is the dominant cost,
    rows-only for oracle purposes since its registers are
    engine-internal)."""
    cols = cols or df.columns
    one = df.agg(F.count(F.lit(1)).cast("bigint").alias("_n"), *_census_aggs(df, cols, exact_distinct))
    if exact_distinct:
        nd = df.agg(*[F.count_distinct(qcol(c)).cast("bigint").alias(f"_nd_{i}") for i, c in enumerate(cols)])
        one = one.crossJoin(F.broadcast(nd))
    return one.select(_census_rows(df, cols))


def _is_num(df: DataFrame, c: str) -> bool:
    return _base_type(df.schema[c].dataType) == "numeric"


def _census_aggs(df: DataFrame, cols: list[str], exact_distinct: bool) -> list:
    """The plain per-column census aggregates of :func:`table_profile`
    and :func:`table_profile_by`: non-null count, min/max (numeric as
    double, everything else as string) and, in approx mode, the
    approx distinct count.

    Internal aliases are POSITIONAL (`_nn_{i}`), never f-string-built
    from the column name: a name with a dot/space/backtick would break
    F.col resolution of the alias (ADVICE round 10).  Input refs go
    through qcol for the same reason."""
    aggs = []
    for i, c in enumerate(cols):
        aggs.append(F.count(qcol(c)).cast("bigint").alias(f"_nn_{i}"))
        if not exact_distinct:
            aggs.append(F.approx_count_distinct(qcol(c)).cast("bigint").alias(f"_nd_{i}"))
        if _is_num(df, c):
            aggs.append(F.min(qcol(c)).cast("double").alias(f"_mn_{i}"))
            aggs.append(F.max(qcol(c)).cast("double").alias(f"_mx_{i}"))
        else:
            aggs.append(F.min(qcol(c).cast("string")).alias(f"_mn_{i}"))
            aggs.append(F.max(qcol(c).cast("string")).alias(f"_mx_{i}"))
    return aggs


def _census_rows(df: DataFrame, cols: list[str]) -> F.Column:
    """``inline`` over a literal struct array: the one-row-per-column
    unroll of the census aggregates (sentinels -1.0 / '' fill the
    inapplicable min/max pair)."""
    rows = []
    for i, c in enumerate(cols):
        # census label: collapse Spark's tz-variant timestamp names
        # (timestamp_ntz / timestamp_ltz) to plain 'timestamp' — the
        # cross-engine-stable label (DuckDB has only TIMESTAMP).
        dt = df.schema[c].dataType.simpleString()
        dt = "timestamp" if dt.startswith("timestamp") else dt
        num = _is_num(df, c)
        rows.append(
            F.struct(
                F.lit(c).alias("column_name"),
                F.lit(dt).alias("data_type"),
                F.col(f"_nn_{i}").alias("n_nonnull"),
                (F.col("_n") - F.col(f"_nn_{i}")).cast("bigint").alias("n_null"),
                F.col(f"_nd_{i}").alias("n_distinct"),
                (F.coalesce(F.col(f"_mn_{i}"), F.lit(-1.0)) if num else F.lit(-1.0)).alias("min_num"),
                (F.coalesce(F.col(f"_mx_{i}"), F.lit(-1.0)) if num else F.lit(-1.0)).alias("max_num"),
                (F.lit("") if num else F.coalesce(F.col(f"_mn_{i}"), F.lit(""))).alias("min_str"),
                (F.lit("") if num else F.coalesce(F.col(f"_mx_{i}"), F.lit(""))).alias("max_str"),
            )
        )
    return F.inline(F.array(*rows))


def schema_drift(old: DataFrame, new: DataFrame) -> DataFrame:
    """Cross-snapshot schema + distribution drift — the MONITORING face
    of :func:`table_profile` (one census per side, full-outer joined on
    the column name): per column a ``status`` ∈ {added, removed,
    type_changed, ok}, both type labels, null rates in FLOOR-ppm and
    distinct counts from each side — the ingest-contract check a
    pipeline runs between yesterday's and today's snapshot before
    downstream jobs bind to the schema.  Sentinels fill the missing
    side ('' types, -1 counts/ppm — the nullable-output rule).

    Scale: exactly two one-pass censuses (each a single aggregation —
    see table_profile) + a ≤|columns|-row join; nothing here grows
    with table size beyond the profile scans themselves."""
    return census_drift(table_profile(old), table_profile(new))


def census_drift(
    old_census: DataFrame,
    new_census: DataFrame,
    key_cols: list[str] | None = None,
) -> DataFrame:
    """Drift verdicts from two ALREADY-BUILT censuses (the
    :func:`table_profile` schema) — factored out so stored census
    snapshots (e.g. the streaming per-batch census store) can be
    compared without re-scanning the data that produced them.

    ``key_cols`` (round 13): extra join keys carried by BOTH inputs —
    the lagged-self-join face used by the streaming drift reader to
    compare EVERY consecutive snapshot pair in one job (keys =
    from_batch/to_batch) instead of one driver round-trip per
    transition.  Output carries the keys first, coalesced across the
    full-outer join exactly like ``column_name``."""
    keys = list(key_cols or [])
    po = old_census.select(
        *[F.col(k) for k in keys],
        F.col("column_name"),
        F.col("data_type").alias("_t_o"),
        F.col("n_nonnull").alias("_nn_o"),
        F.col("n_null").alias("_nl_o"),
        F.col("n_distinct").alias("_nd_o"),
    )
    pn = new_census.select(
        *[F.col(k).alias(f"_k_n_{i}") for i, k in enumerate(keys)],
        F.col("column_name").alias("_c_n"),
        F.col("data_type").alias("_t_n"),
        F.col("n_nonnull").alias("_nn_n"),
        F.col("n_null").alias("_nl_n"),
        F.col("n_distinct").alias("_nd_n"),
    )
    cond = po["column_name"] == pn["_c_n"]
    for i, k in enumerate(keys):
        cond = cond & (po[k] == pn[f"_k_n_{i}"])
    j = po.join(pn, cond, "full_outer")
    key_out = [
        F.coalesce(po[k], pn[f"_k_n_{i}"]).alias(k) for i, k in enumerate(keys)
    ]
    has_old = F.col("_t_o").isNotNull()
    has_new = F.col("_t_n").isNotNull()

    def _ppm(nl, nn):
        total = F.col(nl) + F.col(nn)
        return F.when(
            total > 0,
            F.floor(F.col(nl).cast("double") * F.lit(1000000.0) / total.cast("double")),
        ).otherwise(F.lit(0)).cast("bigint")

    status = (
        F.when(~has_old, F.lit("added"))
        .when(~has_new, F.lit("removed"))
        .when(F.col("_t_o") != F.col("_t_n"), F.lit("type_changed"))
        .otherwise(F.lit("ok"))
    )
    return j.select(
        *key_out,
        F.coalesce(F.col("column_name"), F.col("_c_n")).alias("column_name"),
        status.alias("status"),
        F.coalesce(F.col("_t_o"), F.lit("")).alias("type_old"),
        F.coalesce(F.col("_t_n"), F.lit("")).alias("type_new"),
        F.when(has_old, _ppm("_nl_o", "_nn_o")).otherwise(F.lit(-1)).cast("bigint").alias("null_ppm_old"),
        F.when(has_new, _ppm("_nl_n", "_nn_n")).otherwise(F.lit(-1)).cast("bigint").alias("null_ppm_new"),
        F.coalesce(F.col("_nd_o"), F.lit(-1)).cast("bigint").alias("ndv_old"),
        F.coalesce(F.col("_nd_n"), F.lit(-1)).cast("bigint").alias("ndv_new"),
    )


def table_profile_by(
    df: DataFrame,
    group_cols: list[str],
    cols: list[str] | None = None,
    exact_distinct: bool = True,
) -> DataFrame:
    """Per-group column census — :func:`table_profile` partitioned by
    ``group_cols`` (per-tenant / per-day / per-source data-quality
    segmentation): one row per (group, column) with the same statistics
    and sentinel conventions as the global census.

    Scale: the same split shape as the global census (measured 2.5×
    faster than the mixed agg — see table_profile): ONE grouped plain
    aggregation + (exact mode) ONE grouped distinct-only aggregation
    joined back on the group key; both are partial+final aggregates
    shuffling on the group key, and the per-column unroll is a
    literal-struct ``inline`` over the per-group rows — output is
    |groups| × |columns| rows, never data-sized."""
    cols = cols or [c for c in df.columns if c not in group_cols]
    # Positional internal aliases + qcol input refs (the _census_aggs
    # rule); group keys get safe `_g{j}` aliases so the exact-distinct
    # join and the final select also survive odd headers.
    aggs = _census_aggs(df, cols, exact_distinct)
    gkeys = [qcol(g).alias(f"_g{j}") for j, g in enumerate(group_cols)]
    gnames = [f"_g{j}" for j in range(len(group_cols))]
    one = df.groupBy(*gkeys).agg(F.count(F.lit(1)).cast("bigint").alias("_n"), *aggs)
    if exact_distinct:
        nd = df.groupBy(*gkeys).agg(
            *[F.count_distinct(qcol(c)).cast("bigint").alias(f"_nd_{i}") for i, c in enumerate(cols)]
        )
        one = one.join(nd, gnames)
    return one.select(*[F.col(n).alias(g) for n, g in zip(gnames, group_cols)], _census_rows(df, cols))
