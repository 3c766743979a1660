"""Result post-processing (reference operators A17-A20).

The reference pulls the whole result into pandas, and — if any fully
duplicated row exists — groups by ALL columns, counts, and sorts desc
(query.py:49-58). That collapses work onto the driver; here the same
semantics run *inside the Spark plan* (distributed, pre-collect).

The duplicate probe is an aggregation job, so it runs only when the
optimized plan cannot prove the rows distinct: a ``GROUP BY`` that
keeps its keys, ``SELECT DISTINCT``, a global aggregate or ``LIMIT 1``
cannot hold a duplicated row (:func:`_collapse_probe`).

Null-key policy (documented fix, SURVEY.md §2 A17): pandas groupby
silently drops rows with NaN in any key; Spark keeps null group keys.
We keep them — dropping data rows silently is a bug, not a semantic.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from csv_query_engine_spark.profiler import qcol


def collapse_duplicates(df: DataFrame, count_col: str = "count") -> DataFrame:
    """Group by all columns, count, sort desc (A17 + A19)."""
    cols = [qcol(c) for c in df.columns]
    return df.groupBy(*cols).agg(F.count(F.lit(1)).alias(count_col)).orderBy(F.desc(count_col), *cols)


def _scala_iter(iterable):
    it = iterable.iterator()
    while it.hasNext():
        yield it.next()


def _collapse_probe(df: DataFrame, count_col: str = "count") -> tuple[DataFrame, bool, DataFrame | None]:
    """Conditional collapse (A17+A18+A19), skipped without a job when the
    optimized plan proves the rows distinct: some set in Catalyst's
    ``distinctKeys`` (which its redundant-aggregate rules rely on) holds
    only output attributes, so two equal rows would repeat a key value
    the plan guarantees unique; an empty set means at most one row.
    With ``spark.sql.optimizer.propagateDistinctKeys.enabled`` off no
    key is known and every result is probed.  The probe persists the
    all-columns count aggregate once; the duplicate flag and the
    collapsed plan both read it.  Returns (plan, collapsed, cached) —
    the caller must unpersist ``cached`` after materializing."""
    plan = df._jdf.queryExecution().optimizedPlan()
    output = plan.outputSet()
    if any(
        all(e.getClass().getSimpleName() == "AttributeReference" and output.contains(e) for e in _scala_iter(key))
        for key in _scala_iter(plan.distinctKeys())
    ):
        return df, False, None
    # Internal alias: the result may itself carry a `count` column (any
    # GROUP BY ... COUNT(*) AS count query) and the probe filter must not
    # be ambiguous. Renamed to the public name only on the collapse path.
    tmp = "__collapse_n"
    cols = [qcol(c) for c in df.columns]
    grouped = df.groupBy(*cols).agg(F.count(F.lit(1)).alias(tmp)).persist()
    has_dup = grouped.filter(F.col(tmp) > 1).limit(1).count() > 0
    if has_dup:
        out = grouped.orderBy(F.desc(tmp), *cols).withColumnRenamed(tmp, count_col)
        return out, True, grouped
    grouped.unpersist()
    return df, False, None


def collapse_if_duplicated(df: DataFrame) -> tuple[DataFrame, bool]:
    """The reference's conditional collapse (query.py:49-58) through
    :func:`_collapse_probe`; the cache is dropped before returning so
    direct callers own no persist lifecycle (:func:`materialize` uses
    :func:`_collapse_probe` directly and keeps the cache warm through
    its collect)."""
    out, collapsed, cached = _collapse_probe(df)
    if cached is not None:
        cached.unpersist()
    return out, collapsed


@dataclass
class QueryResult:
    """Result envelope (reference models.py:24-26) — plus the
    ``execution_time`` the reference's UI expected but the backend never
    sent (index.html:218 vs models.py:24-26; SURVEY.md §2 notes)."""

    sql: str
    rows: list[dict] = field(default_factory=list)
    columns: list[str] = field(default_factory=list)
    execution_time: float = 0.0
    row_count: int = 0
    collapsed: bool = False


def materialize(df: DataFrame, sql: str, limit: int | None = 200, collapse: bool = True) -> QueryResult:
    """Execute + bound + serialize (A15/A16/A20): limit applied to the
    plan (never string-append), rows as list-of-dicts, wall time
    measured around the action."""
    start = time.perf_counter()
    collapsed = False
    cached = None
    try:
        if collapse:
            df, collapsed, cached = _collapse_probe(df)
        if limit is not None:
            df = df.limit(limit)
        rows = [r.asDict(recursive=True) for r in df.collect()]
    finally:
        if cached is not None:
            cached.unpersist()
    elapsed = time.perf_counter() - start
    return QueryResult(
        sql=sql,
        rows=rows,
        columns=list(df.columns),
        execution_time=elapsed,
        row_count=len(rows),
        collapsed=collapsed,
    )
