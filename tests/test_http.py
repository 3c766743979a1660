"""HTTP facade route tests: the reference's two endpoints and its 400
surface (A21) exercised through the Flask test client — upload ->
profile response, query -> result envelope, and every error case the
reference maps to HTTP 400."""

from __future__ import annotations

import datetime as dt
import io

import pytest

pytest.importorskip("flask")

from csv_query_engine_spark.engine import QueryEngine
from csv_query_engine_spark.http_api import create_app

NOW = dt.date(2024, 2, 15)


def _incidents_csv_bytes() -> bytes:
    rows = ["City,Service,incident_date,severity"]
    rows += ["Mumbai,Internet,2024-01-%02d,3" % (d % 28 + 1) for d in range(15)]
    rows += ["Mumbai,Phone,2024-01-%02d,2" % (d % 28 + 1) for d in range(8)]
    rows += ["Delhi,Internet,2024-01-05,1"] * 4
    return ("\n".join(rows) + "\n").encode()


@pytest.fixture(scope="module")
def client(spark):
    app = create_app(QueryEngine(spark, now=NOW))
    app.config["TESTING"] = True
    return app.test_client()


def test_home_page(client):
    r = client.get("/")
    assert r.status_code == 200
    assert b"upload" in r.data.lower()


def test_query_before_upload_is_400(client):
    r = client.post("/query", json={"question": "which services?"})
    assert r.status_code == 400
    assert "upload" in r.get_json()["detail"].lower()


def test_upload_rejects_non_csv(client):
    r = client.post(
        "/upload",
        data={"file": (io.BytesIO(b"x,y\n1,2\n"), "data.txt")},
        content_type="multipart/form-data",
    )
    assert r.status_code == 400
    assert r.get_json()["detail"] == "Only CSV files allowed"


def test_upload_missing_file_is_400(client):
    r = client.post("/upload", data={}, content_type="multipart/form-data")
    assert r.status_code == 400


def test_upload_then_flagship_query(client):
    up = client.post(
        "/upload",
        data={"file": (io.BytesIO(_incidents_csv_bytes()), "incidents.csv")},
        content_type="multipart/form-data",
    )
    assert up.status_code == 200
    cols = {c["name"]: c for c in up.get_json()["columns"]}
    assert cols["City"]["semantic_type"] == "city"
    assert cols["incident_date"]["semantic_type"] == "date"

    q = client.post(
        "/query",
        json={"question": "Which services were affected in Mumbai last month?", "use_ai": False},
    )
    assert q.status_code == 200
    body = q.get_json()
    got = {r["Service"]: r["count"] for r in body["rows"]}
    assert got == {"Internet": 15, "Phone": 8}
    assert body["sql"].startswith("SELECT `Service`, COUNT(*) AS count")
    assert body["execution_time"] > 0


def test_failed_reupload_keeps_loaded_table(spark):
    """An empty CSV is a 400 (reference: "No columns to parse from
    file"), and a failed re-upload under the SAME filename leaves the
    loaded table answering from the first file."""
    app = create_app(QueryEngine(spark, now=NOW))
    app.config["TESTING"] = True
    c = app.test_client()

    def upload(data: bytes):
        return c.post(
            "/upload",
            data={"file": (io.BytesIO(data), "data.csv")},
            content_type="multipart/form-data",
        )

    assert upload(_incidents_csv_bytes()).status_code == 200
    bad = upload(b"")
    assert bad.status_code == 400
    assert "No columns to parse from file" in bad.get_json()["detail"]
    q = c.post("/query", json={"question": "which city", "use_ai": False})
    assert q.status_code == 200, q.get_json()
    assert {r["City"]: r["count"] for r in q.get_json()["rows"]} == {"Mumbai": 23, "Delhi": 4}


def test_odd_headers_upload_query_and_value_sets(spark):
    """Headers with a dot, a space and a backtick are literal column
    names everywhere: the upload profiles them, a `SELECT *` answer runs
    the all-columns duplicate collapse over them, and the value-set scan
    reads the dotted column (an unquoted ref parses `user.city` as a
    struct field)."""
    from csv_query_engine_spark.profiler import low_cardinality_values

    engine = QueryEngine(spark, now=NOW)
    app = create_app(engine)
    app.config["TESTING"] = True
    c = app.test_client()
    data = b"user.city,sev level,e`f\n" + b"".join(
        [b"Mumbai,3,01/05/2024\n"] * 2 + [b"Mumbai,2,01/06/2024\n", b"Delhi,1,01/07/2024\n", b"Pune,2,01/08/2024\n"]
    )
    up = c.post(
        "/upload",
        data={"file": (io.BytesIO(data), "odd.csv")},
        content_type="multipart/form-data",
    )
    assert up.status_code == 200, up.get_json()
    assert up.get_json()["columns"] == [
        {"name": "user.city", "type": "string", "semantic_type": "city"},
        {"name": "sev level", "type": "numeric", "semantic_type": "other"},
        {"name": "e`f", "type": "date", "semantic_type": "date"},
    ]
    q = c.post("/query", json={"question": "incidents in Mumbai", "use_ai": False})
    assert q.status_code == 200, q.get_json()
    body = q.get_json()
    assert body["sql"].startswith("SELECT * FROM df")
    assert body["collapsed"] is True
    assert body["rows"] == [
        {"user.city": "Mumbai", "sev level": 3, "e`f": "01/05/2024", "count": 2},
        {"user.city": "Mumbai", "sev level": 2, "e`f": "01/06/2024", "count": 1},
    ]
    vals = low_cardinality_values(spark.table("df"))
    assert vals["user.city"] == ["Delhi", "Mumbai", "Pune"]


def test_empty_question_is_400(client):
    r = client.post("/query", json={"question": "   "})
    assert r.status_code == 400
    assert "question" in r.get_json()["detail"].lower()


def test_query_missing_body_is_400(client):
    r = client.post("/query", json={})
    assert r.status_code == 400


def test_ops_listing_and_execution(client):
    """Beyond-reference /ops surface: the listing mirrors the registry
    (names + oracle flags), running an operator returns capped rows
    with its schema, unknown names 404, and a bad limit 400s."""
    from csv_query_engine_spark.queries import all_oracles, all_queries

    listing = client.get("/ops").get_json()["operators"]
    assert [o["name"] for o in listing] == list(all_queries())
    oracles = all_oracles()
    assert all(o["oracle"] == (o["name"] in oracles) for o in listing)

    res = client.post(
        "/ops/group_count_priority",
        json={"sf_dir": "/root/testdata/sf0.001", "limit": 3},
    )
    assert res.status_code == 200
    body = res.get_json()
    assert body["operator"] == "group_count_priority"
    assert body["row_count"] <= 3 and body["columns"]

    assert client.post("/ops/not_a_real_op", json={}).status_code == 404
    assert (
        client.post(
            "/ops/group_count_priority", json={"limit": "many"}
        ).status_code
        == 400
    )


def test_ops_request_cycle_leaves_no_cached_blocks(client, spark):
    """The /ops request cycle is the cache scope (round-9 verdict #2
    generalized): operators with CALLER-OWNED caches — minhash
    signature tables, entity record/variant tables — must not leak one
    persisted block per HTTP request.  Pin: after running two such
    operators, the persistent-RDD set is back to its pre-request
    baseline."""

    def persistent_ids():
        sc = spark.sparkContext
        return {
            int(rid)
            for rid in sc._jvm.scala.collection.JavaConverters.mapAsJavaMap(
                sc._jsc.sc().getPersistentRDDs()
            ).keys()
        }

    before = persistent_ids()
    for op in ("customer_entity_resolution_pairs", "dedup_containment_pairs"):
        res = client.post(
            "/ops/" + op, json={"sf_dir": "/root/testdata/sf0.001", "limit": 5}
        )
        assert res.status_code == 200, res.get_json()
    leaked = persistent_ids() - before
    assert not leaked, f"request cycle leaked persisted blocks: {leaked}"


def test_query_multi_table_flag(spark):
    """POST /query with multi_table=true routes through ask_tables:
    star-schema join inference over every registered table; unbindable
    questions are a clean 400 (round 9)."""
    from csv_query_engine_spark.io.readers import load_tables

    eng = QueryEngine(spark, now=NOW)
    t = load_tables(spark, "/root/testdata/sf0.001", ("customer", "nation"))
    eng.register(t["customer"], "customer")
    eng.register(t["nation"], "nation")
    app = create_app(eng)
    app.config["TESTING"] = True
    c = app.test_client()
    r = c.post(
        "/query", json={"question": "how many customers per n_name", "multi_table": True}
    )
    assert r.status_code == 200
    body = r.get_json()
    assert "JOIN" in body["sql"] and body["row_count"] == 25
    r = c.post("/query", json={"question": "   ", "multi_table": True})
    assert r.status_code == 400


def test_lint_endpoint_flags_and_clears(client):
    up = client.post(
        "/upload",
        data={"file": (io.BytesIO(_incidents_csv_bytes()), "incidents.csv")},
        content_type="multipart/form-data",
    )
    assert up.status_code == 200
    # clean aggregate: plans only, no error findings
    r = client.post("/lint", json={"sql": "SELECT City, COUNT(*) AS n FROM df GROUP BY City"})
    assert r.status_code == 200
    body = r.get_json()
    assert body["ok"] is True
    assert all(f["severity"] != "error" for f in body["findings"])
    # unpartitioned window: flagged as an error without executing
    r2 = client.post(
        "/lint",
        json={"sql": "SELECT City, ROW_NUMBER() OVER (ORDER BY City) AS rn FROM df"},
    )
    assert r2.status_code == 200
    body2 = r2.get_json()
    assert body2["ok"] is False
    assert any(f["rule"] == "unpartitioned-window" for f in body2["findings"])
    # validation still gates: non-SELECT rejected with the 400 envelope
    r3 = client.post("/lint", json={"sql": "DROP TABLE df"})
    assert r3.status_code == 400
    # missing sql
    assert client.post("/lint", json={}).status_code == 400


def test_query_lint_flag_attaches_findings(client):
    up = client.post(
        "/upload",
        data={"file": (io.BytesIO(_incidents_csv_bytes()), "incidents.csv")},
        content_type="multipart/form-data",
    )
    assert up.status_code == 200
    r = client.post(
        "/query",
        json={"question": "Which services were affected in Mumbai last month?",
              "use_ai": False, "lint": True},
    )
    assert r.status_code == 200
    body = r.get_json()
    assert "lint_findings" in body
    assert all(f["severity"] != "error" for f in body["lint_findings"])
    # without the flag the field is absent (envelope unchanged)
    r2 = client.post(
        "/query",
        json={"question": "Which services were affected in Mumbai last month?",
              "use_ai": False},
    )
    assert "lint_findings" not in r2.get_json()
