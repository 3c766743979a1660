"""End-to-end engine lifecycle: CSV upload -> profile -> NL question ->
validated SQL -> distributed execution -> post-processed envelope.

The golden flagship test reproduces the reference's canonical example
(models.py:31-36): "Which services were affected in Mumbai last month?"
-> Service/count rows.
"""

from __future__ import annotations

import datetime as dt

import pytest

from csv_query_engine_spark.engine import (
    EmptyQuestionError,
    NoDataUploadedError,
    QueryEngine,
)
from csv_query_engine_spark.io.readers import IngestError, read_csv
from csv_query_engine_spark.nlsql.validator import UnsafeSQLError
from csv_query_engine_spark.postprocess import collapse_duplicates, collapse_if_duplicated, materialize

NOW = dt.date(2024, 2, 15)


@pytest.fixture(scope="module")
def incidents_csv(tmp_path_factory):
    """FIXTURES.md A1: known Mumbai/last-month counts: Internet=15, Phone=8."""
    p = tmp_path_factory.mktemp("data") / "incidents.csv"
    rows = ["City,Service,incident_date,severity"]
    rows += ["Mumbai,Internet,2024-01-%02d,3" % (d % 28 + 1) for d in range(15)]
    rows += ["Mumbai,Phone,2024-01-%02d,2" % (d % 28 + 1) for d in range(8)]
    rows += ["Delhi,Internet,2024-01-05,1"] * 4          # other city, in range
    rows += ["Mumbai,Internet,2024-02-05,1"] * 6         # right city, out of range
    p.write_text("\n".join(rows) + "\n")
    return str(p)


@pytest.fixture(scope="module")
def engine(spark, incidents_csv):
    eng = QueryEngine(spark, now=NOW)
    eng.upload_csv(incidents_csv)
    return eng


def test_profile_on_upload(engine):
    cols = {c.name: c for c in engine.columns()}
    assert cols["City"].semantic_type == "city"
    assert cols["Service"].semantic_type == "service"
    assert cols["incident_date"].semantic_type == "date"
    assert cols["severity"].type == "numeric"


def test_golden_flagship(engine):
    res = engine.ask("Which services were affected in Mumbai last month?")
    got = {r["Service"]: r["count"] for r in res.rows}
    assert got == {"Internet": 15, "Phone": 8}
    assert res.execution_time > 0
    assert res.sql.startswith("SELECT `Service`, COUNT(*) AS count")


def test_select_star_collapses_duplicates(engine):
    # "show everything" -> SELECT * ; the Delhi row repeats 4x and the
    # out-of-range Mumbai row 6x -> dedup-collapse kicks in (A17/A18).
    res = engine.ask("show all data")
    assert res.collapsed
    counts = {(r["City"], r["Service"], str(r["incident_date"]), r["severity"]): r["count"] for r in res.rows}
    assert counts[("Delhi", "Internet", "2024-01-05", 1)] == 4
    # sorted desc by count (A19)
    assert res.rows[0]["count"] == 6


def test_limit_enforced(spark):
    eng = QueryEngine(spark, max_rows=5)
    eng.register(spark.range(100).toDF("n"), "big")
    res = eng.sql("SELECT n FROM big ORDER BY n")
    assert res.row_count == 5


def test_error_surface(engine, spark):
    with pytest.raises(NoDataUploadedError):
        QueryEngine(spark).ask("anything")
    with pytest.raises(EmptyQuestionError):
        engine.ask("   ")
    with pytest.raises(UnsafeSQLError):
        engine.sql("DROP TABLE df")
    with pytest.raises(IngestError):
        read_csv(spark, "/tmp/not_a_csv.txt")


def test_collapse_keeps_null_keys(spark):
    # Declared null-policy (SURVEY.md §2 A17): Spark keeps null group
    # keys; the reference's pandas groupby dropped those rows.
    df = spark.createDataFrame([("a",), ("a",), (None,), (None,)], "k string")
    out = collapse_duplicates(df).collect()
    got = {r["k"]: r["count"] for r in out}
    assert got == {"a": 2, None: 2}


def test_collapse_noop_when_unique(spark):
    df = spark.range(5).toDF("n")
    out, collapsed = collapse_if_duplicated(df)
    assert not collapsed
    assert out.count() == 5


# Result shapes whose optimized plan proves the rows distinct: the
# duplicate-collapse probe must be skipped.
SKIP_SHAPES = {
    "group_by_keys_kept": "SELECT City, Service, COUNT(*) AS count FROM df GROUP BY City, Service",
    "global_aggregate": "SELECT COUNT(*) AS n, MAX(severity) AS top FROM df",
    "select_distinct": "SELECT DISTINCT City, severity FROM df",
    "limit_1": "SELECT City, Service FROM df ORDER BY City, Service LIMIT 1",
}
# Shapes the plan cannot prove distinct, and that do repeat a row on
# the incidents fixture: the probe must run and collapse.
PROBE_SHAPES = {
    "group_by_key_dropped": "SELECT severity FROM df GROUP BY City, severity",
    "union_all_of_group_bys": (
        "SELECT City, COUNT(*) AS n FROM df GROUP BY City "
        "UNION ALL SELECT City, COUNT(*) AS n FROM df GROUP BY City"
    ),
}


def _materialize_counting_jobs(spark, sql, tag, distinct_keys=True):
    """(result, jobs run by materialize); ``distinct_keys=False`` turns
    Catalyst's distinct-key propagation off for this call only, which
    forces the always-probe path."""
    sc = spark.sparkContext
    conf = "spark.sql.optimizer.propagateDistinctKeys.enabled"
    old = spark.conf.get(conf)
    spark.conf.set(conf, str(distinct_keys).lower())
    sc.setJobGroup(tag, tag)
    try:
        res = materialize(spark.sql(sql), sql)
    finally:
        sc.setJobGroup("idle", "idle")
        spark.conf.set(conf, old)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return res, len(sc.statusTracker().getJobIdsForGroup(tag))


def _row_bag(res):
    return sorted(repr(r) for r in res.rows)


@pytest.mark.parametrize("shape", sorted(SKIP_SHAPES))
def test_collapse_probe_skipped_when_plan_proves_distinct(spark, engine, shape):
    sql = SKIP_SHAPES[shape]
    res, jobs = _materialize_counting_jobs(spark, sql, f"skip-{shape}")
    probed, probe_jobs = _materialize_counting_jobs(spark, sql, f"probe-{shape}", distinct_keys=False)
    assert not res.collapsed and not probed.collapsed
    assert jobs < probe_jobs, (jobs, probe_jobs)
    assert res.columns == probed.columns
    assert _row_bag(res) == _row_bag(probed)


@pytest.mark.parametrize("shape", sorted(PROBE_SHAPES))
def test_collapse_probe_runs_when_plan_cannot_prove_distinct(spark, engine, shape):
    sql = PROBE_SHAPES[shape]
    res, _ = _materialize_counting_jobs(spark, sql, f"keep-{shape}")
    off, _ = _materialize_counting_jobs(spark, sql, f"keep-off-{shape}", distinct_keys=False)
    assert res.collapsed and off.collapsed
    assert res.columns[-1] == "count" and res.columns == off.columns
    assert res.rows == off.rows
    assert sum(r["count"] for r in res.rows) == spark.sql(sql).count()


def test_orc_roundtrip(spark, tmp_path):
    from csv_query_engine_spark.io.readers import read_orc
    from csv_query_engine_spark.io.writers import write_orc

    src = spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string")
    p = str(tmp_path / "t.orc")
    write_orc(src, p)
    back = read_orc(spark, p)
    assert back.schema == src.schema
    assert {(r["id"], r["s"]) for r in back.collect()} == {(1, "a"), (2, "b")}


def test_ask_with_pluggable_llm_planner(spark, engine):
    """E3 path end-to-end with a fake LLM planner: generated SQL flows
    through the same validator + execution + post-processing as the
    rule path (reference query.py:33-36 use_ai switch)."""
    from csv_query_engine_spark.engine import QueryEngine

    class CannedPlanner:
        def generate(self, question, columns, table="df"):
            return "```sql\nSELECT `Service`, COUNT(*) AS count FROM df GROUP BY `Service`\n``` "

    from csv_query_engine_spark.nlsql.llm import strip_sql_fences

    class FencedPlanner(CannedPlanner):
        def generate(self, question, columns, table="df"):
            return strip_sql_fences(super().generate(question, columns, table))

    eng2 = QueryEngine(spark, planner=FencedPlanner())
    eng2._profiles["df"] = engine._profiles["df"]  # reuse registered view
    res = eng2.ask("anything", use_ai=True)
    got = {r["Service"]: r["count"] for r in res.rows}
    assert got["Internet"] >= 15 and got["Phone"] >= 8


def test_ask_with_duckdb_dialect_planner(spark, engine):
    """A reference-style LLM that ignores the Spark prompt and emits the
    reference's canonical DuckDB output (models.py:31-36) must still
    execute: the dialect shim transpiles "ident" quoting before
    validation. The exact documented string, untouched."""
    from csv_query_engine_spark.engine import QueryEngine

    class ReferenceStylePlanner:
        def generate(self, question, columns, table="df"):
            return (
                'SELECT "Service", COUNT(*) as count FROM df '
                "WHERE \"City\" = 'Mumbai' "
                "AND \"incident_date\" >= '2024-01-01 00:00:00' "
                "AND \"incident_date\" <= '2024-01-31 23:59:59' "
                'GROUP BY "Service"'
            )

    eng2 = QueryEngine(spark, planner=ReferenceStylePlanner())
    eng2._profiles["df"] = engine._profiles["df"]
    res = eng2.ask("which services were affected in mumbai last month?", use_ai=True)
    got = {r["Service"]: r["count"] for r in res.rows}
    assert got == {"Internet": 15, "Phone": 8}


def test_ask_ai_requires_api_key(spark, engine):
    from csv_query_engine_spark.engine import QueryEngine
    from csv_query_engine_spark.nlsql.llm import MissingAPIKeyError, OpenAIPlanner

    eng2 = QueryEngine(spark, planner=OpenAIPlanner(api_key=""))
    eng2._profiles["df"] = engine._profiles["df"]
    import pytest as _pytest

    with _pytest.raises(MissingAPIKeyError):
        eng2.ask("which services", use_ai=True)


def test_jdbc_roundtrip_derby(spark, tmp_path):
    """Live JDBC source test against the Derby driver Spark bundles:
    write a table out over JDBC, read it back whole and with a ranged
    partitioned read (the 100 TB contract: N bounded queries, not one
    unbounded scan through one task)."""
    from csv_query_engine_spark.io.readers import read_jdbc

    from csv_query_engine_spark.io.writers import write_jdbc

    url = f"jdbc:derby:{tmp_path}/jdbcdb;create=true"
    src = spark.createDataFrame(
        [(i, f"name_{i}", i * 10) for i in range(100)], "id int, name string, amount int"
    )
    write_jdbc(
        src, url, "people", mode="overwrite", num_partitions=2,
        driver="org.apache.derby.jdbc.EmbeddedDriver",
    )

    whole = read_jdbc(spark, url, "people", driver="org.apache.derby.jdbc.EmbeddedDriver")
    assert whole.count() == 100

    # Derby uppercases unquoted identifiers while Spark writes quoted
    # lowercase columns — the partition column lands in the generated
    # WHERE verbatim, so quote it at the call site.
    ranged = read_jdbc(
        spark,
        url,
        "people",
        partition_column='"id"',
        lower_bound=0,
        upper_bound=100,
        num_partitions=4,
        driver="org.apache.derby.jdbc.EmbeddedDriver",
    )
    assert ranged.rdd.getNumPartitions() == 4
    assert ranged.count() == 100
    # pushdown: the filter must reach the remote query, not a post-scan
    plan = ranged.filter("amount > 500")._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "amount" in plan

    pred = read_jdbc(
        spark,
        url,
        "people",
        predicates=['"id" < 50', '"id" >= 50'],
        driver="org.apache.derby.jdbc.EmbeddedDriver",
    )
    assert pred.rdd.getNumPartitions() == 2
    assert pred.count() == 100


def test_jdbc_partition_args_validated(spark):
    from csv_query_engine_spark.io.readers import read_jdbc

    with pytest.raises(IngestError, match="requires lower_bound"):
        read_jdbc(spark, "jdbc:derby:memory:x", "t", partition_column="id")


def test_binary_file_source_feeds_real_media_decode(spark, tmp_path):
    """binaryFile ingest end-to-end: PNG files written to disk come
    back as binary rows and decode through the REAL codec path."""
    import struct
    import zlib

    from csv_query_engine_spark.io.readers import read_binary_files
    from csv_query_engine_spark.pipeline import multimodal as mm
    from pyspark.sql import functions as F

    def chunk(typ, payload):
        return (
            struct.pack(">I", len(payload))
            + typ
            + payload
            + struct.pack(">I", zlib.crc32(typ + payload) & 0xFFFFFFFF)
        )

    for doc in (1, 2):
        w = h = 2
        px = bytes([(doc * 10 + i) % 256 for i in range(w * h * 3)])
        raw = b"".join(b"\x00" + px[y * w * 3 : (y + 1) * w * 3] for y in range(h))
        blob = (
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
            + chunk(b"IDAT", zlib.compress(raw))
            + chunk(b"IEND", b"")
        )
        (tmp_path / f"img{doc}.png").write_bytes(blob)
    (tmp_path / "notes.txt").write_text("not an image")

    files = read_binary_files(spark, str(tmp_path), glob="*.png")
    assert files.count() == 2  # the glob pruned the txt file
    media = files.select(
        F.regexp_extract(F.col("path"), r"img(\d+)\.png", 1).cast("long").alias("doc_id"),
        F.col("content").alias("media"),
    )
    out = {r["doc_id"]: r for r in mm.decode_media(media, fake=False).collect()}
    assert set(out) == {1, 2}
    for doc in (1, 2):
        assert out[doc]["width"] == 2 and out[doc]["height"] == 2
        assert out[doc]["n_bytes"] == 12  # decoded pixel bytes, not file bytes


def test_text_corpus_source_line_and_file_modes(spark, tmp_path):
    from csv_query_engine_spark.io.readers import read_text_corpus

    (tmp_path / "a.txt").write_text("alpha doc one\nbeta doc two\nalpha doc one\n")
    (tmp_path / "b.txt").write_text("gamma whole file\nsecond line\n")
    (tmp_path / "skip.log").write_text("excluded\n")

    lines = read_text_corpus(spark, str(tmp_path), glob="*.txt")
    rows = lines.collect()
    assert len(rows) == 5  # 3 + 2, .log pruned
    assert len({r["doc_id"] for r in rows}) == 5  # duplicate lines get distinct ids
    # re-ingest gives identical ids (content-address stability)
    again = {r["doc_id"] for r in read_text_corpus(spark, str(tmp_path), glob="*.txt").collect()}
    assert again == {r["doc_id"] for r in rows}

    whole = read_text_corpus(spark, str(tmp_path), whole_files=True, glob="*.txt")
    wrows = {r["source"].rsplit("/", 1)[-1]: r["text"] for r in whole.collect()}
    assert set(wrows) == {"a.txt", "b.txt"}
    assert wrows["b.txt"] == "gamma whole file\nsecond line\n"


def test_dynamic_partition_overwrite_preserves_untouched_partitions(spark, tmp_path):
    """The incremental-backfill write pattern at scale: with
    partitionOverwriteMode=dynamic, overwriting a partitioned table
    replaces ONLY the partitions present in the incoming frame; static
    mode (the default) would wipe the rest. Also pins partition pruning
    on the read side."""
    import contextlib
    import io

    from pyspark.sql import functions as F

    from csv_query_engine_spark.io.writers import write_parquet

    p = str(tmp_path / "t")
    base = spark.createDataFrame(
        [("2024-01-01", 1), ("2024-01-02", 2), ("2024-01-03", 3)], "day string, v int"
    )
    write_parquet(base, p, partition_by=["day"])
    backfill = spark.createDataFrame([("2024-01-02", 20)], "day string, v int")
    old = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "STATIC")
    try:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        write_parquet(backfill, p, partition_by=["day"])
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", old)
    # partition-column type inference reads `day` back as DATE
    got = {str(r["day"]): r["v"] for r in spark.read.parquet(p).collect()}
    assert got == {"2024-01-01": 1, "2024-01-02": 20, "2024-01-03": 3}

    # partition pruning: a day-equality filter must reach the scan as a
    # partition filter, not a data filter
    q = spark.read.parquet(p).filter(F.col("day") == "2024-01-03")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        q.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan and "2024-01-03" in plan, plan


def test_ask_tables_multi_table_join(spark):
    """engine.ask_tables answers questions spanning registered tables
    via inferred star-schema joins; unbindable questions surface as the
    typed 400 error (round 9)."""
    import pytest

    from csv_query_engine_spark.engine import QueryEngine, UnsupportedQuestionError
    from csv_query_engine_spark.io.readers import load_tables

    eng = QueryEngine(spark)
    t = load_tables(spark, "/root/testdata/sf0.001", ("customer", "nation"))
    eng.register(t["customer"], "customer")
    eng.register(t["nation"], "nation")
    res = eng.ask_tables("how many customers per n_name")
    assert "JOIN" in res.sql
    want = {
        r[0]: r[1]
        for r in spark.sql(
            "SELECT n_name, COUNT(*) FROM customer JOIN nation"
            " ON c_nationkey = n_nationkey GROUP BY n_name"
        ).collect()
    }
    got = {r["n_name"]: r["count"] for r in res.rows}
    assert got == want
    # single-table question stays single-table through the same entry
    res1 = eng.ask_tables("how many distinct c_mktsegment")
    assert "JOIN" not in res1.sql
    eng.register(spark.createDataFrame([(1,)], "z_score bigint"), "island")
    with pytest.raises(UnsupportedQuestionError):
        eng.ask_tables("average z_score by n_name")
