from __future__ import annotations

import datetime as dt

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from csv_query_engine_spark import profiler
from csv_query_engine_spark.profiler import (
    ColumnInfo,
    detect_semantic_type,
    profile,
)


def test_semantic_keyword_precedence():
    # city keywords (reference csv_profiler.py:9-11)
    for name in ["City", "user_location", "Place", "town", "state", "Country", "REGION", "area_code"]:
        assert detect_semantic_type(name, ["x"]) == "city", name
    # service keywords (csv_profiler.py:14-16)
    for name in ["Service", "product_id", "type", "Category", "item", "name", "title"]:
        assert detect_semantic_type(name, ["x"]) == "service", name
    # date keywords (csv_profiler.py:19-21)
    for name in ["date", "Time", "timestamp", "created", "updated", "occurred_on"]:
        assert detect_semantic_type(name, ["x"]) == "date", name
    # city beats service beats date when multiple match
    assert detect_semantic_type("city_name", ["x"]) == "city"
    assert detect_semantic_type("service_date", ["x"]) == "service"


def test_content_probe_fixed_not_everything_is_a_date():
    # The reference bug: errors='coerce' never raises, so plain strings
    # were typed date (csv_profiler.py:44-50). Fixed via parse-rate.
    assert detect_semantic_type("description", ["Mumbai", "Delhi", "hello"]) == "other"
    assert detect_semantic_type("col_x", ["2024-01-01", "2024-02-03", "2024-10-10"]) == "date"
    # below-threshold mix stays 'other'
    mixed = ["2024-01-01", "garbage", "more garbage", "nope"]
    assert detect_semantic_type("col_x", mixed) == "other"


def test_profile_types(spark):
    df = spark.createDataFrame(
        [(1, "Mumbai", "Internet", "2024-01-05", 2.5, "free text")],
        "id int, City string, Service string, incident_date string, severity double, description string",
    )
    cols = {c.name: c for c in profile(df)}
    assert cols["id"].type == "numeric"
    assert cols["severity"].type == "numeric"
    assert cols["City"] == ColumnInfo("City", "string", "city")
    assert cols["Service"].semantic_type == "service"
    # string column whose values parse as dates -> type 'date'
    assert cols["incident_date"].type == "date"
    assert cols["incident_date"].semantic_type == "date"
    assert cols["description"] == ColumnInfo("description", "string", "other")


def test_profile_native_timestamp(spark):
    df = spark.sql("SELECT TIMESTAMP '2024-01-01' AS created_at, 1 AS n")
    cols = {c.name: c for c in profile(df)}
    assert cols["created_at"].type == "date"
    assert cols["created_at"].semantic_type == "date"


def test_table_profile_counts_nulls_and_minmax(spark):
    from csv_query_engine_spark.profiler import table_profile

    df = spark.createDataFrame(
        [(1, "b", 2.5), (2, None, 1.5), (3, "a", None), (3, "c", 4.5)],
        "k int, s string, v double",
    )
    rows = {r["column_name"]: r for r in table_profile(df).collect()}
    assert rows["k"]["n_nonnull"] == 4 and rows["k"]["n_null"] == 0
    assert rows["k"]["n_distinct"] == 3
    assert rows["k"]["min_num"] == 1.0 and rows["k"]["max_num"] == 3.0
    assert rows["k"]["min_str"] == "" and rows["k"]["max_str"] == ""
    assert rows["s"]["n_nonnull"] == 3 and rows["s"]["n_null"] == 1
    assert rows["s"]["min_str"] == "a" and rows["s"]["max_str"] == "c"
    assert rows["s"]["min_num"] == -1.0  # sentinel, not NULL
    assert rows["v"]["n_null"] == 1 and rows["v"]["min_num"] == 1.5
    assert rows["v"]["max_num"] == 4.5


def test_table_profile_one_pass_no_shuffle_after_agg(spark):
    from csv_query_engine_spark.profiler import table_profile

    df = spark.range(100).select(
        F.col("id").alias("a"), (F.col("id") % 7).alias("b")
    )
    prof = table_profile(df)
    plan = prof._jdf.queryExecution().executedPlan().toString()
    # exact mode: plain pass + a SEPARATE distinct-only pass (its K
    # distinct aggs still Expand) joined back as a 1-row broadcast —
    # the measured-2.5x split (profiler docstring); no Python anywhere
    assert "Expand" in plan
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row crossJoin idiom
    assert "BatchEvalPython" not in plan
    # approx mode: single pass — no Expand, no join at all
    plan2 = table_profile(df, exact_distinct=False)._jdf.queryExecution().executedPlan().toString()
    assert "Expand" not in plan2
    assert "Join" not in plan2


def test_schema_drift_statuses_and_sentinels(spark):
    from csv_query_engine_spark.profiler import schema_drift

    old = spark.createDataFrame([(1, "a", 1.0), (2, None, 2.0)], "k int, s string, v double")
    new = spark.createDataFrame([(1, 9, "x"), (2, 8, None)], "k int, v bigint, t string")
    rows = {r["column_name"]: r for r in schema_drift(old, new).collect()}
    assert rows["k"]["status"] == "ok"
    assert rows["s"]["status"] == "removed" and rows["s"]["type_new"] == ""
    assert rows["s"]["null_ppm_new"] == -1 and rows["s"]["ndv_new"] == -1
    assert rows["t"]["status"] == "added" and rows["t"]["type_old"] == ""
    assert rows["v"]["status"] == "type_changed"
    assert rows["v"]["type_old"] == "double" and rows["v"]["type_new"] == "bigint"
    # null rate: s has 1 null of 2 rows -> 500000 ppm on the old side
    assert rows["s"]["null_ppm_old"] == 500000
    assert rows["t"]["null_ppm_new"] == 500000


def test_table_profile_by_groups_and_split_shape(spark):
    from csv_query_engine_spark.profiler import table_profile_by

    df = spark.createDataFrame(
        [("a", 1, None), ("a", 2, "x"), ("b", 2, "y")], "g string, k int, s string"
    )
    rows = {(r["g"], r["column_name"]): r for r in table_profile_by(df, ["g"]).collect()}
    assert rows[("a", "k")]["n_nonnull"] == 2 and rows[("a", "k")]["n_distinct"] == 2
    assert rows[("a", "s")]["n_null"] == 1
    assert rows[("b", "k")]["min_num"] == 2.0 and rows[("b", "k")]["max_num"] == 2.0
    assert rows[("b", "s")]["min_str"] == "y"
    plan = table_profile_by(df, ["g"])._jdf.queryExecution().executedPlan().toString()
    # exact mode: the distinct-only half joins back on the GROUP key
    # (equi join, not the 1-row broadcast) — and still no Python
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_table_profile_odd_column_names(spark):
    """Headers with dots / spaces / backticks (CSV ingests) must profile
    correctly: internal aliases are positional and input refs are
    backtick-quoted, so 'a.b' never parses as struct access (ADVICE
    round 10)."""
    from csv_query_engine_spark.profiler import table_profile, table_profile_by

    df = spark.createDataFrame(
        [(1, "x", 2.0, "g1"), (2, None, 4.0, "g1"), (3, "y", None, "g2")],
        ["a.b", "c d", "e`f", "grp.key"],
    )
    rows = {r["column_name"]: r for r in table_profile(df).collect()}
    assert set(rows) == {"a.b", "c d", "e`f", "grp.key"}
    assert rows["a.b"]["n_nonnull"] == 3 and rows["a.b"]["max_num"] == 3.0
    assert rows["c d"]["n_null"] == 1 and rows["c d"]["max_str"] == "y"
    assert rows["e`f"]["n_nonnull"] == 2 and rows["e`f"]["min_num"] == 2.0
    # grouped face: dotted GROUP key + odd profiled columns
    by = table_profile_by(df, ["grp.key"]).collect()
    assert {r["grp.key"] for r in by} == {"g1", "g2"}
    g1 = {r["column_name"]: r for r in by if r["grp.key"] == "g1"}
    assert g1["a.b"]["n_nonnull"] == 2 and g1["a.b"]["n_distinct"] == 2
    assert g1["e`f"]["max_num"] == 4.0
    # approx mode resolves the same refs
    approx = {r["column_name"] for r in table_profile(df, exact_distinct=False).collect()}
    assert approx == {"a.b", "c d", "e`f", "grp.key"}


def _parse_rate_oracle(values: list) -> float:
    """The full-rate probe the digit-skip decision replaced, verbatim:
    the oracle the decision must agree with."""
    import datetime as dt

    non_null = [v for v in values if v is not None and str(v).strip() != ""]
    if not non_null:
        return 0.0
    ok = 0
    py_formats = (
        "%Y-%m-%dT%H:%M:%S",
        "%Y-%m-%d %H:%M:%S",
        "%Y-%m-%d",
        "%Y/%m/%d",
        "%m/%d/%Y",
        "%d-%m-%Y",
    )
    for v in non_null:
        s = str(v).strip()
        for fmt in py_formats:
            try:
                dt.datetime.strptime(s, fmt)
                ok += 1
                break
            except ValueError:
                continue
    return ok / len(non_null)


_IN_FORMATS = ("%Y-%m-%dT%H:%M:%S", "%Y-%m-%d %H:%M:%S", "%Y-%m-%d", "%Y/%m/%d", "%m/%d/%Y", "%d-%m-%Y")
_OUT_FORMATS = ("%d.%m.%Y", "%Y%m%d", "%b %d %Y", "%H:%M", "%m/%d/%y", "%Y-%m-%dT%H:%M:%SZ", "%d %B %Y")
# Arabic-Indic, Devanagari and fullwidth digits: all match the regex \d
_DIGIT_SETS = ("٠١٢٣٤٥٦٧٨٩", "०१२३४५६७८९", "０１２３４５６７８９")


def _unicode_lead(s: str, digits: str, k: int) -> str:
    """``s`` with the digits of its first ``k`` characters swapped for
    another script's: a Unicode year still parses (%Y is \\d\\d\\d\\d),
    a Unicode month or day does not."""
    return s[:k].translate(str.maketrans("0123456789", digits)) + s[k:]


_stamps = st.datetimes(min_value=dt.datetime(1, 1, 1), max_value=dt.datetime(9999, 12, 31))
_rendered = st.builds(lambda d, f: d.strftime(f), _stamps, st.sampled_from(_IN_FORMATS + _OUT_FORMATS))
_date_values = st.one_of(
    _rendered,
    st.builds(
        _unicode_lead,
        st.builds(lambda d, f: d.strftime(f), _stamps, st.sampled_from(_IN_FORMATS)),
        st.sampled_from(_DIGIT_SETS),
        st.sampled_from([1, 4, 10]),
    ),
    st.sampled_from(["2024-02-30", "2024-13-01", "2023-02-29", "00/10/2024", "31-04-2024", "2024/00/10"]),
    st.builds(lambda pad, v, end: pad + v + end, st.sampled_from(["", " ", "\t", "\n "]), _rendered, st.sampled_from(["", "  ", "\r\n"])),
    st.none(),
    st.sampled_from(["", " ", "\t"]),
    st.integers(-(10**9), 10**9),
    st.text(alphabet="0123456789-/: T.abcxyz", max_size=20),
    st.text(max_size=12),
)


@st.composite
def _near_threshold(draw):
    """Dates mixed with non-dates at a share just under or over the 10%
    the threshold allows, plus blanks the rate ignores."""
    n = draw(st.integers(1, 300))
    bad = min(n, max(0, n // 10 + draw(st.integers(-1, 2))))
    dates = st.sampled_from(["2024-01-05", "01/05/2024", "2024/01/05", " 2024-01-05 09:00:00", "٢٠٢٤-01-05"])
    junk = st.sampled_from(["n/a", "12 apples", "2024-13-01", "٢٠٢٤-٠١-٠١x", "1"])
    values = [draw(dates) for _ in range(n - bad)] + [draw(junk) for _ in range(bad)]
    values += draw(st.lists(st.sampled_from([None, "", "  "]), max_size=5))
    return draw(st.permutations(values))


@given(st.one_of(st.lists(_date_values, max_size=40), _near_threshold()))
@settings(max_examples=1500, deadline=None)
def test_date_decision_equals_full_rate_rule(values):
    """The digit-skip decision answers exactly `rate >= threshold` of
    the full-rate probe it replaced."""
    want = _parse_rate_oracle(values) >= profiler.DATE_PARSE_THRESHOLD
    assert profiler._is_date_column(values) == want


def test_date_decision_parse_cost(monkeypatch):
    """Values that do not start with a digit are never parsed; each
    digit-led value is parsed once."""
    calls = []
    parse = profiler._parses_as_date
    monkeypatch.setattr(profiler, "_parses_as_date", lambda s: calls.append(s) or parse(s))
    assert not profiler._is_date_column([f"city {i}" for i in range(1000)])
    assert calls == []
    assert profiler._is_date_column(["2024-01-05"] * 950 + ["n/a"] * 50)
    assert len(calls) == 950
