"""Engine facade: the reference's upload->profile->ask->execute lifecycle
(SURVEY.md §3 E1-E3) on Spark.

Reference flow: POST /upload stores one pandas frame in a module global
(upload.py:13-26); POST /query turns the question into SQL, validates it
with a keyword blocklist, executes on a fresh DuckDB connection, and
post-processes (query.py:13-66). Here:

* the "catalog" is the Spark session catalog (temp views), multi-table;
* validation is token + parsed-plan based (nlsql.validator);
* execution is ``spark.sql`` -> Catalyst -> distributed;
* the row cap is ``.limit(n)`` on the plan;
* every reference HTTP-400 case (A21) is a typed exception.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession

from csv_query_engine_spark.io.readers import IngestError, read_csv
from csv_query_engine_spark.nlsql.dialect import duckdb_to_spark_sql
from csv_query_engine_spark.nlsql.llm import LLMPlanner, RuleBasedPlanner
from csv_query_engine_spark.nlsql.validator import validate_sql
from csv_query_engine_spark.postprocess import QueryResult, materialize
from csv_query_engine_spark.profiler import ColumnInfo, profile

DEFAULT_MAX_ROWS = 200  # reference MAX_ROWS_LIMIT default (config.py:9)


class EngineError(ValueError):
    """Base for the reference's HTTP-400 surface (A21)."""


class NoDataUploadedError(EngineError):
    pass


class EmptyQuestionError(EngineError):
    pass


class UnsupportedQuestionError(EngineError):
    """The multi-table grammar could not bind the question safely
    (ambiguous columns or no inferable join path) — surfaced as a 400,
    never a silently wrong query."""


class QueryEngine:
    """One engine per SparkSession; tables live in the session catalog."""

    def __init__(
        self,
        spark: SparkSession,
        max_rows: int = DEFAULT_MAX_ROWS,
        planner: LLMPlanner | None = None,
        now: dt.date | None = None,
    ):
        self.spark = spark
        self.max_rows = max_rows
        self.now = now
        self.planner = planner or RuleBasedPlanner(now=now)
        self._profiles: dict[str, list[ColumnInfo]] = {}

    # -- ingest (E1) ------------------------------------------------------

    def upload_csv(self, path: str, table: str = "df", **options) -> list[ColumnInfo]:
        df = read_csv(self.spark, path, **options)
        if not df.columns:
            # reference 400 on an empty upload (pandas EmptyDataError);
            # checked before register so the loaded table survives
            raise IngestError("No columns to parse from file")
        return self.register(df, table)

    def register(self, df: DataFrame, table: str = "df") -> list[ColumnInfo]:
        cols = profile(df)
        df.createOrReplaceTempView(table)
        self._profiles[table] = cols
        return cols

    def columns(self, table: str = "df") -> list[ColumnInfo]:
        if table not in self._profiles:
            raise NoDataUploadedError(f"No table '{table}' uploaded yet")
        return self._profiles[table]

    # -- query (E2/E3) ----------------------------------------------------

    def ask(self, question: str, table: str = "df", use_ai: bool = False) -> QueryResult:
        """NL question -> SQL -> validate -> execute -> post-process."""
        if table not in self._profiles:
            raise NoDataUploadedError("Please upload a CSV file first")
        if not question or not question.strip():
            raise EmptyQuestionError("Question cannot be empty")
        cols = self._profiles[table]
        if use_ai:
            sql = self.planner.generate(question, cols, table=table)
        else:
            sql = RuleBasedPlanner(now=self.now).generate(question, cols, table=table)
        # Planner output goes through the DuckDB->Spark shim: a
        # reference-style LLM emits DuckDB dialect ("ident" quoting,
        # list_* calls — reference models.py:31-36); the shim is a no-op
        # on the Spark dialect our planners produce (nlsql.dialect).
        return self.sql(sql, dialect="duckdb")

    def ask_tables(self, question: str) -> QueryResult:
        """NL question over EVERY registered table at once — the
        schema-driven multi-table grammar (round 9): words resolve
        against all profiled schemas, the smallest covering table set
        wins, and the star-schema ``…key``-suffix convention supplies
        the join (shortest path, up to two bridges — round 10).
        Single-table questions reduce to the plain extended grammar;
        unbindable questions raise :class:`UnsupportedQuestionError`
        (400), never a silently wrong join.  Deterministic/offline only
        — the LLM path already sees every schema through its prompt.

        The flagship "revenue" measure registers automatically as a
        derived metric whenever a profiled table carries an
        ``…extendedprice`` + ``…discount`` column pair (the reference's
        golden-example semantics), so "top 5 nations by revenue"
        composes the full join+GROUP+ORDER+LIMIT shape."""
        from csv_query_engine_spark.nlsql.extended import generate_sql_multi_table
        from csv_query_engine_spark.nlsql.generator import quote_identifier

        if not self._profiles:
            raise NoDataUploadedError("Please upload a CSV file first")
        if not question or not question.strip():
            raise EmptyQuestionError("Question cannot be empty")
        metrics: dict[str, tuple[str, list[str]]] = {}
        for _t, cols in self._profiles.items():
            names = [
                (c["name"] if isinstance(c, dict) else c.name) for c in cols
            ]
            ep = next((n for n in names if n.lower().endswith("extendedprice")), None)
            dc = next((n for n in names if n.lower().endswith("discount")), None)
            if ep and dc and "revenue" not in metrics:
                metrics["revenue"] = (
                    f"{quote_identifier(ep)} * (1 - {quote_identifier(dc)})",
                    [ep, dc],
                )
        try:
            sql = generate_sql_multi_table(
                question, dict(self._profiles), now=self.now, metrics=metrics
            )
        except ValueError as e:
            raise UnsupportedQuestionError(str(e)) from e
        return self.sql(sql)

    def sql(self, sql: str, collapse: bool = True, dialect: str = "spark") -> QueryResult:
        """Validated pass-through execution (Tier B surface).
        ``dialect="duckdb"`` transpiles the documented DuckDB-isms
        (double-quoted identifiers, list_* functions) before validation."""
        if dialect == "duckdb":
            sql = duckdb_to_spark_sql(sql)
        elif dialect != "spark":
            raise EngineError(f"Unknown SQL dialect {dialect!r}")
        cleaned = validate_sql(sql, spark=self.spark)
        df = self.spark.sql(cleaned)
        return materialize(df, cleaned, limit=self.max_rows, collapse=collapse)

    def lint(self, sql: str, dialect: str = "spark") -> list[dict]:
        """Plan-lint a SQL statement WITHOUT executing it: validates,
        plans, and runs operators/lint.py::lint_plan over the physical
        plan — the pre-flight a user runs before pointing a query at
        the 100 TB tier (the scale companion of `validate_sql`'s
        syntax/safety gate).  Findings are dicts (rule / severity /
        detail), errors first; execution cost is planning only."""
        from csv_query_engine_spark.operators.lint import lint_plan

        if dialect == "duckdb":
            sql = duckdb_to_spark_sql(sql)
        elif dialect != "spark":
            raise EngineError(f"Unknown SQL dialect {dialect!r}")
        cleaned = validate_sql(sql, spark=self.spark)
        return lint_plan(self.spark.sql(cleaned))
