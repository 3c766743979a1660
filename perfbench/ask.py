"""``ask``: one analyst in a closed loop against the HTTP facade.

One client drives ``http_api.create_app(QueryEngine)`` through Flask's
in-process test client (no sockets).  Every fifth operation uploads a
fresh seeded incidents CSV; every other operation asks a question with
``use_ai=false``.  Questions are drawn by seed from templates covering
the reference grammar (which-X, city, last month) and the extended
grammar (aggregate by, distinct, per-group top-N), each template equally
often.

Correctness: every request must return 200, every generated SQL must
equal the SQL pinned for its template, every upload must profile to the
pinned column types, and every answer must equal DuckDB run over the
same CSV (after the same duplicate collapse and row cap).
"""

from __future__ import annotations

import datetime as dt
import io
import math
import os
import random
import time

from common import HostSentinels, Tracer, generic_layers, median
from datagen import CITIES, ask_csv

NOW = dt.date(2024, 2, 15)
_LAST_MONTH = "`incident_date` >= '2024-01-01 00:00:00' AND `incident_date` <= '2024-01-31 23:59:59'"

# (question, SQL the rule-based planner must emit for it)
TEMPLATES = (
    (
        "Which services were affected in {city} last month?",
        "SELECT `Service`, COUNT(*) AS count FROM df WHERE `City` = '{city}' AND " + _LAST_MONTH + " GROUP BY `Service`",
    ),
    ("which city", "SELECT `City`, COUNT(*) AS count FROM df GROUP BY `City`"),
    (
        "Show incidents in {city} last month",
        "SELECT * FROM df WHERE `City` = '{city}' AND " + _LAST_MONTH,
    ),
    (
        "average severity by service",
        "SELECT `Service`, AVG(`severity`) AS `avg_severity` FROM df GROUP BY `Service`",
    ),
    (
        "how many distinct customer_id",
        "SELECT COUNT(DISTINCT `customer_id`) AS `distinct_customer_id` FROM df",
    ),
    (
        "top 3 service per city",
        "SELECT `City`, `Service`, `count` FROM (SELECT `City`, `Service`, COUNT(*) AS `count`, "
        "ROW_NUMBER() OVER (PARTITION BY `City` ORDER BY COUNT(*) DESC, `Service`) AS `_rnk` "
        "FROM df GROUP BY `City`, `Service`) WHERE `_rnk` <= 3 ORDER BY `City`, `_rnk`",
    ),
)

PROFILE = [
    {"name": "City", "type": "string", "semantic_type": "city"},
    {"name": "Service", "type": "string", "semantic_type": "service"},
    {"name": "incident_date", "type": "date", "semantic_type": "date"},
    {"name": "severity", "type": "numeric", "semantic_type": "other"},
    {"name": "duration_min", "type": "numeric", "semantic_type": "other"},
    {"name": "priority", "type": "string", "semantic_type": "other"},
    {"name": "customer_id", "type": "numeric", "semantic_type": "other"},
]

UPLOAD_EVERY = 5
MIN_UPLOADS = 5  # timed uploads, at least: side_s is their median
WARMUP_ROUNDS = 6
N_CSVS = 4
MAX_ROWS = 200  # the engine's default row cap


def _questions(rng: random.Random):
    """Seeded (question, pinned SQL) stream.  Each block of
    len(TEMPLATES) questions is a shuffled permutation of the templates,
    so every run times the same mix of question shapes."""
    while True:
        order = list(TEMPLATES)
        rng.shuffle(order)
        for q, sql in order:
            city = rng.choice(CITIES)
            yield q.format(city=city), sql.format(city=city)


class _TracedSpark:
    """SparkSession stand-in whose ``sql`` (the analysis step) is a span."""

    def __init__(self, spark, tracer: Tracer):
        self._spark = spark
        self.sql = tracer.wrap("engine.analyze", spark.sql)

    def __getattr__(self, name):
        return getattr(self._spark, name)


def _instrument(tracer: Tracer, engine) -> dict:
    """Rebind the layer entry points the engine calls to traced
    wrappers; counts collapse-probe outcomes."""
    from csv_query_engine_spark import engine as engine_mod
    from csv_query_engine_spark import postprocess
    from csv_query_engine_spark.nlsql.llm import RuleBasedPlanner

    probes = {"probed": 0, "collapsed": 0}
    for name, span in (
        ("read_csv", "io.read_csv"),
        ("profile", "profiler.profile"),
        ("validate_sql", "nlsql.validate"),
        ("duckdb_to_spark_sql", "nlsql.dialect"),
        ("materialize", "postprocess.materialize"),
    ):
        setattr(engine_mod, name, tracer.wrap(span, getattr(engine_mod, name)))

    class TracedPlanner(RuleBasedPlanner):
        generate = tracer.wrap("nlsql.plan", RuleBasedPlanner.generate)

    engine_mod.RuleBasedPlanner = TracedPlanner
    probe = postprocess._collapse_probe

    def traced_probe(df, *a, **k):
        with tracer.span("postprocess.collapse_probe"):
            out = probe(df, *a, **k)
        probes["probed"] += 1
        probes["collapsed"] += bool(out[1])
        return out

    postprocess._collapse_probe = traced_probe
    engine.ask = tracer.wrap("engine.ask", engine.ask)
    engine.upload_csv = tracer.wrap("engine.upload", engine.upload_csv)
    engine.spark = _TracedSpark(engine.spark, tracer)
    return probes


class Ask:
    def __init__(self, ctx):
        self.ctx = ctx
        rows = 2_000 if ctx.tiny else 20_000
        self.csvs = [ask_csv(ctx.seed * 1000 + k, rows, NOW) for k in range(N_CSVS)]
        self.csv_paths = []
        for k, data in enumerate(self.csvs):
            p = os.path.join(ctx.work, f"incidents_{k}.csv")
            with open(p, "wb") as f:
                f.write(data)
            self.csv_paths.append(p)
        self.setup_uploads: list[bool] = []

    # -- set-up: get_spark() to a server holding the first upload -------

    def setup(self, spark) -> None:
        from csv_query_engine_spark.engine import QueryEngine
        from csv_query_engine_spark.http_api import create_app

        self.engine = QueryEngine(spark, now=NOW)
        app = create_app(self.engine)
        app.config["TESTING"] = True
        self.client = app.test_client()
        _, ok = self._upload(0)
        self.setup_uploads.append(ok)

    # -- operations ----------------------------------------------------

    def _upload(self, k: int) -> tuple[float, bool]:
        t0 = time.perf_counter()
        r = self.client.post(
            "/upload",
            data={"file": (io.BytesIO(self.csvs[k]), f"incidents_{k}.csv")},
            content_type="multipart/form-data",
        )
        dt_s = time.perf_counter() - t0
        ok = r.status_code == 200 and r.get_json()["columns"] == PROFILE
        return dt_s, ok

    def _query(self, question: str) -> tuple[float, dict | None]:
        t0 = time.perf_counter()
        r = self.client.post("/query", json={"question": question, "use_ai": False})
        dt_s = time.perf_counter() - t0
        return dt_s, (r.get_json() if r.status_code == 200 else None)

    def run(self, spark, tracer: Tracer, deadline_s: float) -> dict:
        probes = _instrument(tracer, self.engine) if tracer.enabled else None
        questions = _questions(random.Random(self.ctx.seed))
        answers: list[tuple[int, str, dict | None]] = []  # (csv, pinned sql, body)
        failed = attempted = 0
        current = 0

        def templates(r: int):
            for i, (q_t, sql_t) in enumerate(TEMPLATES):
                city = CITIES[(i + r) % len(CITIES)]
                yield q_t.format(city=city), sql_t.format(city=city)

        # every set-up uploaded CSV 0; the last one serves the run
        attempted += len(self.setup_uploads)
        failed += self.setup_uploads.count(False)

        # cold: the first question of every template on the fresh server
        # (each one plans and compiles a new shape)
        cold_s = 0.0
        for k, (q, sql) in enumerate(templates(0)):
            with tracer.span("http.query", request=f"cold-{k}"):
                s, body = self._query(q)
            cold_s += s
            attempted += 1
            answers.append((current, sql, body))
        cold_spans = [i for i, sp in enumerate(tracer.spans) if sp["parent"] is None]
        tracer.collect_counters()

        # warm-up (untimed): request latency keeps falling for about 40
        # requests in a fresh JVM, so every template runs WARMUP_ROUNDS
        # more times
        for r in range(1, WARMUP_ROUNDS + 1):
            for q, sql in templates(r):
                _, body = self._query(q)
                attempted += 1
                answers.append((current, sql, body))

        host = HostSentinels(deadline_s)
        host.start()
        query_s: list[float] = []
        upload_s: list[float] = []
        query_units: list[int] = []
        upload_units: list[int] = []
        t_end = time.perf_counter() + deadline_s
        i = 0
        while time.perf_counter() < t_end or len(upload_s) < MIN_UPLOADS:
            if i % UPLOAD_EVERY == 0:
                current = (current + 1) % N_CSVS
                idx = len(tracer.spans)
                with tracer.span("http.upload", request=f"op-{i}"):
                    s, ok = self._upload(current)
                upload_s.append(s)
                upload_units.append(idx)
                failed += not ok
            else:
                q, sql = next(questions)
                idx = len(tracer.spans)
                with tracer.span("http.query", request=f"op-{i}"):
                    s, body = self._query(q)
                query_s.append(s)
                query_units.append(idx)
                answers.append((current, sql, body))
            attempted += 1
            host.tick()
            tracer.collect_counters()
            i += 1
        host.stop()

        self.answers = answers
        out = {
            "attempted": attempted,
            "failed": failed,
            "e2e": {
                "cold_s": cold_s,
                "warm_s": median(query_s),
                "side_s": median(upload_s),
            },
            "host": host.metrics(),
            "samples": len(query_s),
        }
        if tracer.enabled:
            out["layers"] = self._layers(tracer, query_units, upload_units, cold_spans, probes)
        return out

    # -- correctness ---------------------------------------------------

    def check(self) -> int:
        """Failed answers of the last run: non-200, SQL not the pinned
        SQL, or rows that differ from DuckDB over the same CSV."""
        import duckdb

        con = duckdb.connect()
        con.execute("SET threads TO 1")
        for k, p in enumerate(self.csv_paths):
            con.execute(f"CREATE TABLE df_{k} AS SELECT * FROM read_csv_auto('{p}', header=true)")
        bad = 0
        for k, sql, body in self.answers:
            if body is None or body["sql"] != sql:
                bad += 1
                continue
            duck_sql = sql.replace("`", '"').replace(" FROM df", f" FROM df_{k}")
            cols = body["columns"]
            if body["collapsed"]:
                keys = [c for c in cols if c != "count"]
                q = ", ".join(f'"{c}"' for c in keys)
                duck_sql = (
                    f"SELECT {q}, COUNT(*) AS count FROM ({duck_sql}) GROUP BY ALL "
                    f"ORDER BY count DESC, {q} LIMIT {MAX_ROWS}"
                )
            rel = con.sql(duck_sql)
            want = [tuple(_cell(v) for v in row) for row in rel.fetchall()]
            got = [tuple(_cell(r[c]) for c in cols) for r in body["rows"]]
            if list(rel.columns) != cols or not _same_rows(got, want):
                bad += 1
        con.close()
        return bad

    # -- traced run ----------------------------------------------------

    def _layers(self, tracer, query_units, upload_units, cold_spans, probes) -> dict:
        def per(name: str, parents: list[int], field: str = "s") -> float:
            vals = []
            for p in parents:
                kids = [i for i in tracer.subtree(p) if tracer.spans[i]["name"] == name]
                if field == "s":
                    vals.append(sum(tracer.duration(i) for i in kids))
                else:
                    vals.append(sum(tracer.tree_counters(i)[field] for i in kids))
            return median(vals)

        def self_time(parents: list[int]) -> float:
            return median(tracer.self_time(p) for p in parents)

        generic = generic_layers(tracer, query_units, upload_units, cold_spans)
        modules = {
            "http_api.self_s": self_time(query_units),
            "engine.ask_s": per("engine.ask", query_units),
            "engine.analyze_s": per("engine.analyze", query_units),
            "nlsql.plan_s": per("nlsql.plan", query_units),
            "nlsql.validate_s": per("nlsql.validate", query_units),
            "postprocess.materialize_s": per("postprocess.materialize", query_units),
            "postprocess.collapse_probe_s": per("postprocess.collapse_probe", query_units),
            "postprocess.jobs_per_ask": per("postprocess.materialize", query_units, "jobs"),
            "postprocess.tasks_per_ask": per("postprocess.materialize", query_units, "tasks"),
            "postprocess.cpu_s_per_ask": per("postprocess.materialize", query_units, "executor_cpu_s"),
            "postprocess.collapse_hit_ratio": probes["collapsed"] / probes["probed"] if probes["probed"] else 0.0,
            "http_api.upload_self_s": self_time(upload_units),
            "io.read_csv_s": per("io.read_csv", upload_units),
            "io.read_csv_jobs": per("io.read_csv", upload_units, "jobs"),
            "profiler.profile_s": per("profiler.profile", upload_units),
            "profiler.jobs_per_upload": per("profiler.profile", upload_units, "jobs"),
        }
        return {"generic": generic, "modules": modules}


def _cell(v):
    if isinstance(v, (dt.date, dt.datetime)):
        return v.isoformat()
    return v


def _same_rows(got: list[tuple], want: list[tuple]) -> bool:
    """Equal as multisets; doubles may differ in summation order only
    (relative 1e-12)."""
    if len(got) != len(want):
        return False
    for a, b in zip(sorted(got, key=repr), sorted(want, key=repr)):
        for x, y in zip(a, b):
            if isinstance(x, float) or isinstance(y, float):
                if x is None or y is None or not math.isclose(x, y, rel_tol=1e-12):
                    return False
            elif x != y:
                return False
    return True
