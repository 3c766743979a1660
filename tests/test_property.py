"""Property-based tests (SURVEY.md §5 item 4, hypothesis-driven).

Pure-Python properties run at full example counts; Spark-backed
properties cap examples (a DataFrame round-trip per example) and
disable deadlines (JVM warmup skews timing).
"""

from __future__ import annotations

import random

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from csv_query_engine_spark.nlsql.generator import CITIES, generate_sql_rule_based
from csv_query_engine_spark.nlsql.validator import validate_sql
from csv_query_engine_spark.pipeline.dedup import _simhash64
from csv_query_engine_spark.postprocess import collapse_duplicates, materialize

COLS = [
    {"name": "City", "type": "string", "semantic_type": "city"},
    {"name": "Service", "type": "string", "semantic_type": "service"},
    {"name": "date", "type": "date", "semantic_type": "date"},
]


@given(
    prefix=st.sampled_from(["which service", "show all", "count rows", "what happened"]),
    city=st.sampled_from(list(CITIES) + ["london"]),
    last_month=st.booleans(),
)
@settings(max_examples=60)
def test_rule_grammar_always_validates(prefix, city, last_month):
    """Every sentence the rule grammar can emit passes the safety
    validator — the generator can never produce SQL its own engine
    rejects (A7-A15 composition)."""
    q = f"{prefix} in {city}" + (" last month" if last_month else "")
    sql = generate_sql_rule_based(q, COLS)
    assert validate_sql(sql) == sql.rstrip(";")
    assert sql.startswith("SELECT")


@given(
    tokens=st.lists(st.sampled_from(["alpha", "beta", "gamma", "delta", "eps"]), min_size=1, max_size=12),
    seed=st.integers(0, 10_000),
)
@settings(max_examples=60, deadline=None)  # first call lazily imports numpy/pandas
def test_simhash_is_token_order_invariant(tokens, seed):
    """SimHash is a bag-of-tokens signature: shuffling token order never
    changes the signature (the property band-blocking relies on)."""
    shuffled = tokens[:]
    random.Random(seed).shuffle(shuffled)
    a = int(_simhash64([" ".join(tokens)]).iloc[0])
    b = int(_simhash64([" ".join(shuffled)]).iloc[0])
    assert a == b


@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["a", "b", None]),
            st.sampled_from([1, 2, None]),
        ),
        min_size=1,
        max_size=12,
    )
)
@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_collapse_invariant_counts_preserved(spark, rows):
    """A17 dedup-collapse invariant: sum(count) == input rows, even with
    null group keys (the pandas NaN-dropping bug the rebuild fixes —
    SURVEY.md §2 A17)."""
    df = spark.createDataFrame(rows, "k string, v int")
    out = collapse_duplicates(df).collect()
    assert sum(r["count"] for r in out) == len(rows)
    assert len(out) == df.distinct().count()


COLLAPSE_SHAPES = (
    "SELECT * FROM prop_t",
    "SELECT k FROM prop_t",
    "SELECT k, COUNT(*) AS n FROM prop_t GROUP BY k",
    "SELECT v FROM prop_t GROUP BY k, v",
    "SELECT DISTINCT k, v FROM prop_t",
    "SELECT COUNT(DISTINCT v) AS d, MIN(k) AS lo FROM prop_t",
    "SELECT k, v FROM prop_t ORDER BY k, v LIMIT 1",
    "SELECT k FROM prop_t GROUP BY k UNION ALL SELECT k FROM prop_t GROUP BY k",
    "SELECT a.k, b.m FROM (SELECT DISTINCT k FROM prop_t) a "
    "JOIN (SELECT k, MAX(v) AS m FROM prop_t GROUP BY k) b ON a.k = b.k",
    "SELECT a.k, a.v FROM prop_t a LEFT JOIN (SELECT DISTINCT k FROM prop_t) b ON a.k = b.k",
)


@given(
    rows=st.lists(
        st.tuples(st.sampled_from(["a", "b", None]), st.sampled_from([1, 2, None])),
        min_size=1,
        max_size=10,
    ),
    sql=st.sampled_from(COLLAPSE_SHAPES),
)
@settings(max_examples=30, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_materialize_collapse_matches_always_probe_oracle(spark, rows, sql):
    """Skipping the duplicate probe on plan-proven distinct results is
    invisible: rows, columns and the collapsed flag equal an oracle that
    always counts duplicates (reference A17/A18)."""
    # An inline VALUES table keeps every job JVM-only (no Python workers).
    values = ", ".join("(%s, %s)" % tuple("NULL" if x is None else repr(x) for x in r) for r in rows)
    spark.sql(
        f"SELECT CAST(k AS STRING) AS k, CAST(v AS INT) AS v FROM VALUES {values} AS t(k, v)"
    ).createOrReplaceTempView("prop_t")
    df = spark.sql(sql)
    res = materialize(df, sql)
    collapsed = df.count() != df.distinct().count()
    want = collapse_duplicates(df) if collapsed else df
    assert res.collapsed == collapsed
    assert res.columns == want.columns
    want_rows = [r.asDict(recursive=True) for r in want.limit(200).collect()]
    assert sorted(map(repr, res.rows)) == sorted(map(repr, want_rows))


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 14), st.integers(0, 14)).filter(lambda p: p[0] != p[1]),
        max_size=20,
    ),
)
@settings(max_examples=15, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_connected_components_matches_union_find(spark, edges):
    """Distributed min-label propagation must agree with a driver-side
    union-find on arbitrary small graphs (cycles, self-merges, isolated
    nodes, duplicate edges)."""
    from csv_query_engine_spark.pipeline.dedup import connected_components

    n = 15
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expected = {i: find(i) for i in range(n)}

    nodes = spark.createDataFrame([(i,) for i in range(n)], "id long")
    e = spark.createDataFrame(edges, "id_a long, id_b long") if edges else (
        spark.createDataFrame([], "id_a long, id_b long")
    )
    got = {r["id"]: r["cluster_id"] for r in connected_components(nodes, e).collect()}
    assert got == expected


@given(
    counts=st.lists(st.integers(0, 50), min_size=1, max_size=12),
    seq_len=st.integers(4, 64),
    bucket_size=st.integers(1, 5),
)
@settings(max_examples=15, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_sequence_packing_stream_invariants(spark, counts, seq_len, bucket_size):
    """Start offsets must be the exclusive prefix sum in id order for
    ANY bucket size (the hierarchical decomposition is an
    implementation detail), and in-pack geometry must be consistent."""
    from csv_query_engine_spark.pipeline.packing import sequence_packing

    rows = [(i, " ".join(["w"] * c)) for i, c in enumerate(counts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in sequence_packing(df, seq_len=seq_len, bucket_size=bucket_size).collect()
    }
    acc = 0
    for i, c in enumerate(counts):
        r = out[i]
        assert r["start_offset"] == acc
        assert r["pack_id"] == acc // seq_len
        assert r["offset_in_pack"] == acc % seq_len
        end = acc + max(c, 1) - 1
        assert r["spans_boundary"] == (end // seq_len > acc // seq_len)
        acc += c


@given(
    n_tokens=st.integers(0, 40),
    chunk=st.integers(1, 12),
    stride=st.integers(1, 12),
)
@settings(max_examples=12, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_chunking_covers_every_token_exactly(spark, n_tokens, chunk, stride):
    """Every token index of every document falls in ≥1 chunk; chunk
    starts advance by exactly `stride`; the final chunk never runs past
    the document (the layout invariants downstream indexers rely on)."""
    from csv_query_engine_spark.pipeline.chunking import chunk_documents

    stride = min(stride, chunk)  # the operator enforces stride <= chunk
    text = " ".join(f"t{i}" for i in range(n_tokens))
    df = spark.createDataFrame([(0, text)], "doc_id long, text string")
    rows = sorted(
        chunk_documents(df, chunk_tokens=chunk, stride=stride).collect(),
        key=lambda r: r["chunk_idx"],
    )
    # tokens('') is [''] -> one token even for empty text
    n_eff = max(n_tokens, 1)
    covered = set()
    for i, r in enumerate(rows):
        assert r["chunk_idx"] == i
        assert r["start_tok"] == i * stride
        assert 1 <= r["n_tokens"] <= chunk
        assert r["start_tok"] + r["n_tokens"] <= n_eff
        covered |= set(range(r["start_tok"], r["start_tok"] + r["n_tokens"]))
    assert covered == set(range(n_eff))


@given(
    star=st.booleans(),
    seed=st.integers(0, 10_000),
)
@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_star_and_propagation_agree_with_union_find(spark, star, seed):
    """Both connected-components algorithms match a driver-side
    union-find on random graphs (the star variant's O(log n) rounds
    must not change the labeling)."""
    from csv_query_engine_spark.pipeline.dedup import (
        connected_components,
        connected_components_star,
    )

    rng = random.Random(seed)
    n = rng.randrange(5, 40)
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(rng.randrange(0, 2 * n))]
    edges = [(a, b) for a, b in edges if a != b]
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {i: find(i) for i in range(n)}

    nodes = spark.createDataFrame([(i,) for i in range(n)], "id long")
    e = (
        spark.createDataFrame(edges, "id_a long, id_b long")
        if edges
        else spark.createDataFrame([], "id_a long, id_b long")
    )
    fn = connected_components_star if star else connected_components
    got = {r["id"]: r["cluster_id"] for r in fn(nodes, e).collect()}
    assert got == want


# ----------------------------------------------------- merge_upsert model


@settings(
    max_examples=15, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture]
)
@given(
    target=st.dictionaries(st.integers(0, 20), st.integers(0, 100), max_size=15),
    source=st.dictionaries(st.integers(0, 25), st.integers(0, 100), max_size=15),
)
def test_merge_upsert_matches_dict_model(spark, target, source):
    """merge_upsert == Python dict.update: matched keys take source
    values, unmatched source keys insert, target-only keys survive."""
    from csv_query_engine_spark.operators.merge import merge_upsert

    t = spark.createDataFrame(
        [(k, v) for k, v in target.items()] or [(None, None)], "k int, v int"
    ).filter("k IS NOT NULL")
    s = spark.createDataFrame(
        [(k, v) for k, v in source.items()] or [(None, None)], "k int, v int"
    ).filter("k IS NOT NULL")
    got = {r["k"]: r["v"] for r in merge_upsert(t, s, ["k"]).collect()}
    want = dict(target)
    want.update(source)
    assert got == want


@settings(
    max_examples=10, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture]
)
@given(
    changes=st.lists(
        st.tuples(st.integers(0, 6), st.integers(0, 3), st.integers(1, 50)),
        min_size=1,
        max_size=12,
    )
)
def test_scd2_current_rows_match_latest_wins_model(spark, changes):
    """After applying a random change batch to an empty dimension, the
    open rows must equal the latest-change-per-key model and each key
    has exactly one current row."""
    import datetime

    from pyspark.sql import functions as F

    from csv_query_engine_spark.operators.merge import scd2_apply

    dim = spark.createDataFrame(
        [], "k int, attr string, valid_from timestamp, valid_to timestamp, is_current boolean"
    )
    rows = [
        (k, f"a{a}", datetime.datetime(2020, 1, 1) + datetime.timedelta(days=d))
        for (k, a, d) in changes
    ]
    ch = spark.createDataFrame(rows, "k int, attr string, change_ts timestamp")
    out = scd2_apply(dim, ch, ["k"], ["attr"], "change_ts")
    cur = {r["k"]: r["attr"] for r in out.filter(F.col("is_current")).collect()}
    # model: per key, the change with the max ts wins; ties on ts pick
    # the same row row_number picks — restrict the property to keys
    # whose max ts is unique to stay implementation-agnostic
    by_key = {}
    for k, a, d in changes:
        by_key.setdefault(k, []).append((d, a))
    for k, lst in by_key.items():
        mx = max(d for d, _ in lst)
        winners = {a for d, a in lst if d == mx}
        if len(winners) == 1:
            assert cur[k] == f"a{next(iter(winners))}", (k, lst, cur)
    assert out.filter(F.col("is_current")).groupBy("k").count().filter("count > 1").count() == 0


@given(
    parents=st.lists(st.integers(min_value=0, max_value=30), min_size=1, max_size=24),
)
@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_survivor_clusters_roots_match_python_oracle(spark, parents):
    """Pointer-jumping chain resolution equals a driver-side walk on
    RANDOM dup forests (round 11): node i+1 optionally points to any
    smaller node (the strictly-decreasing dup_of contract), so chains
    of arbitrary depth/shape appear; every root must match and every
    survivor roots at itself."""
    from csv_query_engine_spark.pipeline.dedup import survivor_clusters

    # node 0 is always a survivor; node i (1-based) points to parents[i-1]
    # clamped below i, or survives when the clamp hits itself
    rows, ptr = [(0, False, -1, -1.0)], {0: 0}
    for i, p in enumerate(parents, start=1):
        dup_of = min(p, i - 1) if p < i else -1
        if dup_of >= 0:
            rows.append((i, True, dup_of, 0.9))
            ptr[i] = dup_of
        else:
            rows.append((i, False, -1, -1.0))
            ptr[i] = i

    def root(i):
        while ptr[i] != i:
            i = ptr[i]
        return i

    want = {i: root(i) for i in ptr}
    v = spark.createDataFrame(
        rows, "doc_id long, is_dup boolean, dup_of long, dup_jaccard double"
    )
    got = {r["doc_id"]: r["cluster_root"] for r in survivor_clusters(v).collect()}
    assert got == want
