"""HTTP facade — the reference's service surface over :class:`QueryEngine`.

The reference is a FastAPI app with exactly two living endpoints plus a
template home page (reference upload.py:16-33, query.py:13-66, app.py):

* ``POST /upload`` — multipart CSV; 400 unless the filename ends in
  ``.csv`` or the file fails to parse; responds ``{"columns": [...]}``.
* ``POST /query`` — ``{"question": str, "use_ai": bool=True}``; 400 for
  no-upload / empty-question / generation / validation / execution
  errors; responds ``{"sql": ..., "rows": [...]}``.

This environment ships Flask (not FastAPI), so the same routes are Flask
views — a presentation layer only: every engine semantic (profiling,
NL->SQL, dialect shim, validation, distributed execution,
post-processing, and the A21 400-case surface) lives in
:class:`QueryEngine`; the facade maps typed engine exceptions to the
reference's ``{"detail": ...}``/400 envelope.

Lifecycle note: unlike the reference (which keeps a pandas frame in a
module global), Spark re-scans the CSV lazily on every query, so the
uploaded file is persisted, under a fresh name per upload, into a
per-app temp directory that outlives the request.
"""

from __future__ import annotations

import os
import tempfile

try:
    from flask import Flask, jsonify, request

    HAS_FLASK = True
except ImportError:  # pragma: no cover - flask is present in CI env
    HAS_FLASK = False

from csv_query_engine_spark.engine import EngineError, QueryEngine
from csv_query_engine_spark.nlsql.llm import MissingAPIKeyError
from csv_query_engine_spark.nlsql.validator import UnsafeSQLError

_INDEX_HTML = (
    "<html><body><h1>csv-query-engine-spark</h1>"
    "<p>POST /upload (multipart field 'file', .csv) then "
    "POST /query {\"question\": ..., \"use_ai\": true}.</p></body></html>"
)


def _jsonable(v):
    """Row cells Flask's JSON provider can't encode (Decimal, binary,
    nested rows already became dicts) -> strings; containers recurse."""
    if v is None or isinstance(v, (bool, int, float, str)):
        return v
    if isinstance(v, dict):
        return {k: _jsonable(x) for k, x in v.items()}
    if isinstance(v, (list, tuple)):
        return [_jsonable(x) for x in v]
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    return str(v)


def create_app(engine: QueryEngine):
    """Build the Flask app over an existing engine (one engine per
    SparkSession, same as one uploaded frame per reference process)."""
    if not HAS_FLASK:
        raise ImportError("flask is required for the HTTP facade (pip extra 'http')")
    app = Flask("csv_query_engine_spark")
    upload_dir = tempfile.mkdtemp(prefix="cqes_uploads_")

    def _err(detail: str, status: int = 400):
        return jsonify({"detail": detail}), status

    @app.get("/")
    def home():
        return _INDEX_HTML

    @app.post("/upload")
    def upload():
        f = request.files.get("file")
        if f is None or not f.filename:
            return _err("Only CSV files allowed")
        if not f.filename.lower().endswith(".csv"):
            # reference upload.py:21-23, verbatim detail string
            return _err("Only CSV files allowed")
        # A fresh name per upload: the live table reads its file lazily,
        # so a failed upload must never overwrite it.
        fd, path = tempfile.mkstemp(suffix=".csv", dir=upload_dir)
        try:
            with os.fdopen(fd, "wb") as dst:
                f.save(dst)
            cols = engine.upload_csv(path)
        except Exception as e:  # reference wraps ANY parse error as 400
            os.remove(path)
            return _err(f"Error reading CSV: {e}")
        return jsonify(
            {"columns": [{"name": c.name, "type": c.type, "semantic_type": c.semantic_type} for c in cols]}
        )

    @app.get("/ops")
    def ops():
        """BEYOND-reference: list the engine's registered operator
        library (every SURVEY.md §2 / §8 query) with its
        oracle-bearing flag — the service face of the operator
        registry the CLI driver exercises."""
        from csv_query_engine_spark.queries import all_oracles, all_queries

        oracles = all_oracles()
        return jsonify(
            {"operators": [{"name": n, "oracle": n in oracles} for n in all_queries()]}
        )

    @app.post("/ops/<name>")
    def run_op(name: str):
        """BEYOND-reference: run one registered operator against a
        parquet dataset directory. Body: {"sf_dir": path?, "limit":
        n?} — limit is ENFORCED server-side (the A15 row-cap contract
        extended to the operator library; default 100, max 10000)."""
        from csv_query_engine_spark.queries import all_queries

        qs = all_queries()
        if name not in qs:
            return _err(f"Unknown operator: {name}", 404)
        body = request.get_json(silent=True) or {}
        sf_dir = body.get("sf_dir") or os.environ.get(
            "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001"
        )
        try:
            limit = min(max(int(body.get("limit") or 100), 1), 10000)
        except (TypeError, ValueError):
            return _err("limit must be an integer")
        try:
            # Operators with CALLER-OWNED caches (minhash signatures,
            # entity variants, gram tables …) would otherwise leak one
            # cache per request until eviction: the request cycle IS
            # the cache scope here (leak pinned in test_http).
            from csv_query_engine_spark.pipeline import cache_scope

            with cache_scope(engine.spark):
                df = qs[name](engine.spark, sf_dir).limit(limit)
                rows = [r.asDict(recursive=True) for r in df.collect()]
                columns = df.columns
        except Exception as e:
            return _err(f"Error executing operator: {e}")
        return jsonify(
            {
                "operator": name,
                "columns": columns,
                "rows": [_jsonable(r) for r in rows],
                "row_count": len(rows),
            }
        )

    @app.post("/query")
    def query():
        body = request.get_json(silent=True) or {}
        question = body.get("question") or ""
        use_ai = body.get("use_ai")
        use_ai = True if use_ai is None else bool(use_ai)  # reference default (query.py:23)
        try:
            if body.get("multi_table"):
                # round-9 extension: schema-driven join inference over
                # every registered table (deterministic path only)
                res = engine.ask_tables(question)
            else:
                res = engine.ask(question, use_ai=use_ai)
        except (EngineError, UnsafeSQLError, MissingAPIKeyError) as e:
            return _err(str(e))
        except Exception as e:  # execution errors surface as 400 (reference query.py:64-66)
            return _err(f"Error executing query: {e}")
        payload = {
            "sql": res.sql,
            "rows": [_jsonable(r) for r in res.rows],
            "columns": res.columns,
            "execution_time": res.execution_time,
            "row_count": res.row_count,
            "collapsed": res.collapsed,
        }
        if body.get("lint"):
            # round-10 opt-in: attach the plan-lint findings for the
            # generated SQL alongside the results (planning only —
            # the query above already executed)
            try:
                payload["lint_findings"] = engine.lint(res.sql)
            except Exception as e:
                # a lint FAILURE must stay distinguishable from a clean
                # plan (ADVICE round 10): emit an explicit marker, never
                # an empty list
                payload["lint_findings"] = [
                    {"rule": "lint-error", "severity": "info", "detail": str(e)}
                ]
        return jsonify(payload)

    @app.post("/lint")
    def lint():
        """Pre-flight plan lint (round 10): plans but does NOT execute
        the statement; returns the scale-anti-pattern findings from
        operators/lint.py (errors first).  Same validation gate and
        error envelope as /query."""
        body = request.get_json(silent=True) or {}
        sql = body.get("sql") or ""
        if not sql.strip():
            return _err("Missing 'sql'")
        try:
            findings = engine.lint(sql, dialect=body.get("dialect") or "spark")
        except (EngineError, UnsafeSQLError) as e:
            return _err(str(e))
        except Exception as e:
            return _err(f"Error planning query: {e}")
        return jsonify({"sql": sql, "findings": findings, "ok": not any(
            f["severity"] == "error" for f in findings
        )})

    return app
