"""DuckDB -> Spark SQL dialect shim (reference parity for the LLM path).

The reference's canonical LLM output is DuckDB SQL with double-quoted
identifiers — ``SELECT "Service", COUNT(*) as count FROM df ...``
(reference models.py:31-36) — and it executes on embedded DuckDB, where
that dialect just works. Spark SQL treats ``"..."`` as a STRING literal,
so the same text would silently project a constant instead of a column.
This shim transpiles the documented deltas (SURVEY.md §2):

* ``"ident"`` -> ``` `ident` `` — DuckDB double quotes are ALWAYS
  identifiers (strings are single-quoted), so the rewrite needs no
  context; a ``""`` escape becomes a literal ``"`` and embedded
  backticks are doubled per Spark lexical rules.
* same-signature ``list_*`` -> ``array_*``/HOF renames (only functions
  whose argument order and semantics match exactly are mapped; e.g.
  ``list_reduce`` is NOT mapped — Spark's ``reduce`` takes an explicit
  init accumulator).

The shim is a no-op on SQL already written in this engine's own Spark
conventions (backtick identifiers, single-quoted strings — what the
rule-based planner and the OpenAI prompt produce), so the engine applies
it unconditionally to planner output: a reference-style model that
ignores the prompt and emits DuckDB-isms still executes correctly.
"""

from __future__ import annotations

import re

from csv_query_engine_spark.nlsql.generator import quote_identifier

# DuckDB name -> Spark name, only where signature AND semantics align.
FUNCTION_RENAMES = {
    "list_contains": "array_contains",
    "list_has": "array_contains",
    "list_position": "array_position",
    "list_indexof": "array_position",
    "list_distinct": "array_distinct",
    "list_intersect": "array_intersect",
    "list_append": "array_append",
    "list_prepend": "array_prepend",
    "list_transform": "transform",
    "list_apply": "transform",
    "list_filter": "filter",
    "list_value": "array",
    "list_pack": "array",
}

_FN_RE = re.compile(
    r"\b(" + "|".join(sorted(FUNCTION_RENAMES, key=len, reverse=True)) + r")\b(?=\s*\()",
    re.IGNORECASE,
)


def _rename_functions(code: str) -> str:
    return _FN_RE.sub(lambda m: FUNCTION_RENAMES[m.group(1).lower()], code)


def duckdb_to_spark_sql(sql: str) -> str:
    """Transpile the documented DuckDB-isms to Spark SQL. Single-quoted
    strings, backtick identifiers, and comments pass through verbatim;
    double-quoted identifiers become backticked; list_* calls in code
    segments are renamed."""
    out: list[str] = []
    code: list[str] = []  # pending non-literal text, renamed on flush
    i, n = 0, len(sql)

    def _flush() -> None:
        if code:
            out.append(_rename_functions("".join(code)))
            code.clear()

    while i < n:
        ch = sql[i]
        if ch == "'":
            _flush()
            j = i + 1
            while j < n:
                if sql[j] == "'":
                    if j + 1 < n and sql[j + 1] == "'":  # '' escape
                        j += 2
                        continue
                    break
                j += 1
            out.append(sql[i : j + 1])
            i = j + 1
        elif ch == "`":
            _flush()
            j = i + 1
            while j < n:
                if sql[j] == "`":
                    if j + 1 < n and sql[j + 1] == "`":  # `` escape
                        j += 2
                        continue
                    break
                j += 1
            out.append(sql[i : j + 1])
            i = j + 1
        elif ch == '"':
            _flush()
            ident: list[str] = []
            j = i + 1
            while j < n:
                if sql[j] == '"':
                    if j + 1 < n and sql[j + 1] == '"':  # "" escape -> literal "
                        ident.append('"')
                        j += 2
                        continue
                    break
                ident.append(sql[j])
                j += 1
            out.append(quote_identifier("".join(ident)))
            i = j + 1
        elif sql.startswith("--", i):
            _flush()
            j = sql.find("\n", i)
            j = n if j == -1 else j
            out.append(sql[i:j])
            i = j
        elif sql.startswith("/*", i):
            _flush()
            j = sql.find("*/", i + 2)
            j = n if j == -1 else j + 2
            out.append(sql[i:j])
            i = j
        else:
            code.append(ch)
            i += 1
    _flush()
    return "".join(out)
