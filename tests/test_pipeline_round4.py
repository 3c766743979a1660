"""Round-4 fixes: star-contraction connected components, propagation
truncation warning, NULL-text quality filter, quantized-topk edge cases,
materialize-once plan shapes for incremental dedup / clustering, and the
fully-partitioned sequence-packing prefix sum."""

from __future__ import annotations

import contextlib
import io
import random

import pytest
from pyspark.sql import functions as F

from csv_query_engine_spark.pipeline.dedup import (
    connected_components,
    connected_components_star,
)


def _cc(spark, fn, edges, n_nodes, **kw):
    nodes = spark.createDataFrame([(i,) for i in range(n_nodes)], "id long")
    e = spark.createDataFrame(edges, "id_a long, id_b long") if edges else spark.createDataFrame(
        [], "id_a long, id_b long"
    )
    return {r["id"]: r["cluster_id"] for r in fn(nodes, e, **kw).collect()}


def _reference_cc(edges, n_nodes):
    """Driver-side union-find oracle."""
    parent = list(range(n_nodes))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {i: find(i) for i in range(n_nodes)}


def test_star_cc_basic(spark):
    got = _cc(spark, connected_components_star, [(1, 2), (2, 3), (5, 6)], 8)
    assert got == {0: 0, 1: 1, 2: 1, 3: 1, 4: 4, 5: 5, 6: 5, 7: 7}


def test_star_cc_no_edges(spark):
    assert _cc(spark, connected_components_star, [], 4) == {i: i for i in range(4)}


def test_star_cc_long_chain_closes_in_log_rounds(spark):
    """A 300-node path — the adversarial case for min-label propagation
    (300 rounds) — must close under star contraction's O(log n) bound
    (max_iter=12 ≫ log2(300) ≈ 8 but ≪ the diameter)."""
    edges = [(i + 1, i) for i in range(299)]
    got = _cc(spark, connected_components_star, edges, 300, max_iter=12)
    assert set(got.values()) == {0}


@pytest.mark.parametrize("seed", [7, 23, 61])
def test_star_cc_matches_propagation_on_random_graphs(spark, seed):
    rng = random.Random(seed)
    n = 60
    edges = [
        (rng.randrange(n), rng.randrange(n))
        for _ in range(rng.randrange(10, 45))
    ]
    edges = [(a, b) for a, b in edges if a != b]
    want = _reference_cc(edges, n)
    star = _cc(spark, connected_components_star, edges, n)
    prop = _cc(spark, connected_components, edges, n)
    assert star == want
    assert prop == want


def test_propagation_warns_when_truncated(spark):
    """Hitting max_iter before the fixpoint must be loud: truncated
    labels silently diverging from the oracle was the failure mode."""
    edges = [(i + 1, i) for i in range(9)]
    with pytest.warns(RuntimeWarning, match="did not converge"):
        got = _cc(spark, connected_components, edges, 10, max_iter=2)
    # and the labels really are incomplete — that's what the warning is for
    assert set(got.values()) != {0}


def test_quality_filter_null_text_emits_row(spark):
    """NULL text must not vanish from the verdict table (explode of a
    null token array emits no rows without the coalesce)."""
    from csv_query_engine_spark.pipeline.text import quality_filter

    df = spark.createDataFrame(
        [(1, None), (2, ""), (3, "the and of a quick brown fox " * 5)],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in quality_filter(df).collect()}
    assert set(out) == {1, 2, 3}
    # NULL behaves exactly like empty text: one empty token, all rules fail
    for doc in (1, 2):
        assert out[doc]["n_tokens"] == 1
        assert not out[doc]["passes"]


def test_quantized_topk_empty_query_set(spark):
    from csv_query_engine_spark.pipeline.similarity import quantized_topk

    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], "vec_id long, embedding array<double>"
    )
    q = spark.createDataFrame([], "query_id long, embedding array<double>")
    out = quantized_topk(emb, q, k=2)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["query_id", "cand_id", "cosine", "rank"]


def test_quantized_topk_self_excluded_before_shortlist(spark):
    """At oversample=1 the query's own vector must not burn the single
    shortlist slot — its exact twin has to surface as the neighbor."""
    from csv_query_engine_spark.pipeline.similarity import quantized_topk

    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [1.0, 0.0]), (3, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    q = emb.filter(F.col("vec_id") == 1).withColumnRenamed("vec_id", "query_id")
    out = quantized_topk(emb, q, k=1, oversample=1).collect()
    assert len(out) == 1 and out[0]["cand_id"] == 2 and out[0]["cosine"] == pytest.approx(1.0)


def _formatted_plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_sequence_packing_plan_has_no_single_partition_stage(spark):
    """Every window in the hierarchical prefix sum is partitioned; the
    top-level cumsum is a triangular broadcast join — nothing may force
    an Exchange SinglePartition (the one-task stage that dies at scale)."""
    from csv_query_engine_spark.pipeline.packing import sequence_packing

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _formatted_plan(sequence_packing(docs))
    assert "SinglePartition" not in plan, plan


def test_incremental_dedup_materializes_shared_subtrees(spark):
    """The candidate table and both token tables are persisted, so every
    consumer reads the columnar cache (InMemoryTableScan) instead of
    re-deriving the span-gram explode — cand has 3 consumers and each
    token table 2, so the cache scans must outnumber the subtrees."""
    from csv_query_engine_spark.pipeline.dedup import incremental_dedup

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    inc = docs.filter(F.col("doc_id") % 10 == 0)
    cor = docs.filter(F.col("doc_id") % 10 != 0)
    out = incremental_dedup(inc, cor)
    plan = _formatted_plan(out)
    assert plan.count("InMemoryTableScan") >= 5, plan
    spark.catalog.clearCache()


def test_chunk_documents_layout(spark):
    from csv_query_engine_spark.pipeline.chunking import chunk_documents

    text = "t0 t1 t2 t3 t4 t5 t6 t7 t8 t9"  # 10 tokens
    df = spark.createDataFrame([(1, text), (2, "short")], "doc_id long, text string")
    out = {(r["doc_id"], r["chunk_idx"]): r for r in
           chunk_documents(df, chunk_tokens=4, stride=3).collect()}
    # doc 1: extra=6, ceil(6/3)=2 -> 3 chunks at starts 0,3,6
    assert {(k[0], k[1]) for k in out} == {(1, 0), (1, 1), (1, 2), (2, 0)}
    assert out[(1, 0)]["chunk_text"] == "t0 t1 t2 t3"
    assert out[(1, 1)]["chunk_text"] == "t3 t4 t5 t6"
    assert out[(1, 2)]["chunk_text"] == "t6 t7 t8 t9"
    assert out[(1, 2)]["start_tok"] == 6 and out[(1, 2)]["n_tokens"] == 4
    assert out[(2, 0)]["chunk_text"] == "short" and out[(2, 0)]["n_tokens"] == 1
    # full coverage: every token index falls inside >=1 chunk
    covered = set()
    for (d, _), r in out.items():
        if d == 1:
            covered |= set(range(r["start_tok"], r["start_tok"] + r["n_tokens"]))
    assert covered == set(range(10))


def test_shard_assignment_properties(spark):
    from csv_query_engine_spark.pipeline.chunking import shard_assignment

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    rows = shard_assignment(docs, shard_tokens=1000).collect()
    assert len(rows) == docs.count()
    # offsets always inside the budget; shard ids contiguous from 0
    assert all(0 <= r["offset_in_shard"] < 1000 for r in rows)
    shard_ids = sorted({r["shard_id"] for r in rows})
    assert shard_ids[0] == 0 and shard_ids == list(range(len(shard_ids)))
    # deterministic: second run identical
    again = shard_assignment(docs, shard_tokens=1000).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_shard_assignment_plan_no_single_partition(spark):
    from csv_query_engine_spark.pipeline.chunking import shard_assignment

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _formatted_plan(shard_assignment(docs))
    assert "SinglePartition" not in plan, plan


def test_char_entropy_known_values(spark):
    import math

    from csv_query_engine_spark.pipeline.text import char_entropy_stats

    df = spark.createDataFrame(
        [(1, "aaaa"), (2, "abab"), (3, ""), (4, None)], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in char_entropy_stats(df).collect()}
    assert out[1]["char_entropy"] == 0.0 and out[1]["distinct_chars"] == 1
    assert out[2]["char_entropy"] == pytest.approx(math.log(2), abs=1e-5)
    # empty and NULL both produce the 1-char sentinel row, entropy 0
    for d in (3, 4):
        assert out[d]["n_chars_norm"] == 1 and out[d]["char_entropy"] == 0.0


def test_chunk_documents_rejects_gap_stride(spark):
    from csv_query_engine_spark.pipeline.chunking import chunk_documents

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError, match="stride"):
        chunk_documents(df, chunk_tokens=2, stride=3)


def test_cache_scope_releases_only_inner_blocks(spark):
    """cache_scope must unpersist what the scope created (SQL cache AND
    checkpoint RDD blocks) while leaving pre-existing persists alone.
    Compared by RDD-ID SETS, not counts: in a shared session the
    ContextCleaner may concurrently collect unrelated earlier blocks,
    which made count-based assertions flaky."""
    from csv_query_engine_spark.pipeline import cache_scope
    from csv_query_engine_spark.pipeline.dedup import minhash_lsh_pairs

    jvm = spark.sparkContext._jvm
    jsc = spark.sparkContext._jsc.sc()

    def persistent_ids():
        return {
            int(rid)
            for rid in jvm.scala.collection.JavaConverters.mapAsJavaMap(
                jsc.getPersistentRDDs()
            ).keys()
        }

    outer = spark.createDataFrame([(i,) for i in range(10)], "x long").persist()
    outer.count()
    before = persistent_ids()
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(50)
    with cache_scope(spark):
        minhash_lsh_pairs(docs).count()
        inner_new = persistent_ids() - before
        assert inner_new, "scope created no persistent blocks?"
    assert not (persistent_ids() & inner_new), "inner blocks survived the scope"
    assert outer.count() == 10  # outer persist untouched
    outer.unpersist()


def test_incremental_dedup_empty_sides(spark):
    from csv_query_engine_spark.pipeline.dedup import incremental_dedup

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(20)
    empty = docs.filter("doc_id < 0")
    # empty incoming -> empty verdict table with the right schema
    out = incremental_dedup(empty, docs)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["doc_id", "verdict", "dup_of"]
    # empty corpus -> everything admits
    out2 = incremental_dedup(docs, empty).collect()
    assert len(out2) == 20 and all(r["verdict"] == "admit" and r["dup_of"] == -1 for r in out2)


def test_exclusive_bucket_offsets_three_level_hierarchy(spark):
    """The shared hierarchical prefix sum: exact exclusive cumsum with a
    tiny fan (forcing BOTH grouping levels to be non-trivial), and the
    triangular broadcast-nested-loop join appears exactly ONCE — at the
    top k/fan^2 table only, so the quadratic term cannot reappear at a
    lower level."""
    from csv_query_engine_spark.pipeline.packing import exclusive_bucket_offsets

    import re

    totals = [(b, (b * 37) % 11 + 1) for b in range(100)]
    df = spark.createDataFrame(totals, "bucket long, btok long")
    out = exclusive_bucket_offsets(df, "bucket", "btok", "off", fan=4)
    # plan BEFORE the action: post-execution AQE explain appends the
    # Initial Plan section and double-counts nodes
    plan = _formatted_plan(out)
    assert len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", plan)) == 1, plan
    assert "SinglePartition" not in plan, plan
    got = {r["bucket"]: r["off"] for r in out.collect()}
    run = 0
    for b, v in totals:
        assert got[b] == run, f"bucket {b}: {got[b]} != {run}"
        run += v


def test_allpairs_equals_bruteforce_with_planted_neardups(spark):
    """The prefix filter must lose NOTHING: planted near-duplicate pairs
    and random chaff produce identical (pair, jaccard) sets from the
    AllPairs form and the quadratic ground truth, while the candidate
    stage prunes the pair space."""
    from pyspark.sql import functions as F

    from csv_query_engine_spark.pipeline.dedup import (
        allpairs_jaccard_pairs,
        ngram_jaccard_pairs,
    )

    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    rows = []
    for i in range(30):
        words = base.split()
        words[i % len(words)] = f"w{i}"
        rows.append((i, " ".join(words)))  # near-dups of each other
    for i in range(30, 90):
        rows.append((i, " ".join(f"tok{i}_{j}" for j in range(15))))  # chaff
    df = spark.createDataFrame(rows, "doc_id long, text string")
    exact = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(df, threshold=0.3).collect()
    }
    fast = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in allpairs_jaccard_pairs(df, threshold=0.3).collect()
    }
    assert exact, "test corpus must contain qualifying pairs"
    assert fast == exact, (
        len(exact), len(fast), set(exact) ^ set(fast)
    )
    spark.catalog.clearCache()


def test_split_leakage_audit_counts_planted_leaks(spark):
    """The harness corpus has no exact duplicates (the registry query
    reports honest zeros there), so the counting paths are pinned on a
    planted corpus: duplicate groups that span train/test must surface
    as leaking groups with the right pair count."""
    import hashlib

    from csv_query_engine_spark.queries import REGISTRY  # noqa: F401  (query twin)

    def bucket(doc_id):
        h = hashlib.md5(f"doc-{doc_id}".encode()).hexdigest()[:8]
        return int(h, 16) % 100

    train_ids = [i for i in range(200) if bucket(i) < 80]
    test_ids = [i for i in range(200) if bucket(i) >= 90]
    rows = [
        (train_ids[0], "dup text one"),
        (test_ids[0], "dup text one"),      # leaking pair
        (train_ids[1], "dup text two"),
        (train_ids[2], "dup text two"),     # dup group inside train only
        (test_ids[1], "unique text here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    from pyspark.sql import functions as F

    from csv_query_engine_spark.pipeline import sampling as smp
    from csv_query_engine_spark.pipeline import text as tx

    labeled = df.select(
        tx.fingerprint(F.col("text")).alias("fp"),
        smp.assign_split(F.col("doc_id"), salt="doc-"),
    )
    groups = (
        labeled.groupBy("fp")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count_distinct("split").alias("n_splits"),
            F.sum(F.when(F.col("split") == "train", 1).otherwise(0)).alias("n_train"),
            F.sum(F.when(F.col("split") == "test", 1).otherwise(0)).alias("n_test"),
        )
        .filter(F.col("n_docs") > 1)
    )
    row = groups.agg(
        F.count(F.lit(1)).alias("dup_groups"),
        F.sum(F.when(F.col("n_splits") > 1, 1).otherwise(0)).alias("leaking_groups"),
        F.sum(F.col("n_train") * F.col("n_test")).alias("train_test_pairs"),
    ).collect()[0]
    assert row["dup_groups"] == 2
    assert row["leaking_groups"] == 1
    assert row["train_test_pairs"] == 1
