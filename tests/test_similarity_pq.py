"""Product-quantization ANN: recall against brute force, compression
contract, and empty-query edge case."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from csv_query_engine_spark.pipeline.similarity import (
    brute_force_topk,
    pq_topk,
    sql_contamination_banded,
    sql_embedding_near_dup_pairs,
    sql_lsh_topk,
)
from tests.compare import assert_results_match
from tests.conftest import SF_ORACLE, SF_SMOKE


def test_pq_recall_at_5_on_harness_embeddings(spark):
    e = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    q = e.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding")
    )
    exact = brute_force_topk(e, q, k=5)
    # near-uniform random vectors are the ANN adversarial case
    # (distance concentration); these params measured 0.86 recall here
    approx = pq_topk(e, q, k=5, m=8, n_codes=32, oversample=8)
    ex = {(r["query_id"], r["cand_id"]) for r in exact.collect()}
    ap = {(r["query_id"], r["cand_id"]) for r in approx.collect()}
    recall = len(ex & ap) / len(ex)
    assert recall >= 0.6, f"PQ recall@5 too low: {recall}"
    # rescored scores are EXACT cosines: every overlapping pair agrees
    exs = {(r["query_id"], r["cand_id"]): r["cosine"] for r in exact.collect()}
    aps = {(r["query_id"], r["cand_id"]): r["cosine"] for r in approx.collect()}
    for pair in ex & ap:
        assert abs(exs[pair] - aps[pair]) < 1e-12


def test_pq_planted_twin_is_found(spark):
    """An exact duplicate of the query vector must survive quantization
    and surface at rank 1 with cosine ~1."""
    base = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").limit(40)
    twin = base.filter(F.col("vec_id") == base.select(F.min("vec_id")).first()[0]).select(
        (F.col("vec_id") + 1000000).alias("vec_id"), "embedding", "label"
    )
    e = base.unionByName(twin)
    q = base.orderBy("vec_id").limit(1).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    top = pq_topk(e, q, k=1, oversample=2).collect()
    assert len(top) == 1 and top[0]["cand_id"] >= 1000000
    assert abs(top[0]["cosine"] - 1.0) < 1e-9


def test_pq_empty_queries(spark):
    e = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").limit(10)
    q = e.filter(F.lit(False)).select(F.col("vec_id").alias("query_id"), "embedding")
    out = pq_topk(e, q, k=3)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["query_id", "cand_id", "cosine", "rank"]


def test_pq_rejects_indivisible_dim(spark):
    import pytest

    e = spark.createDataFrame([(1, [1.0, 2.0, 3.0])], "vec_id long, embedding array<double>")
    q = e.select(F.col("vec_id").alias("query_id"), "embedding")
    with pytest.raises(ValueError, match="not divisible"):
        pq_topk(e, q, m=2)


def test_sq8_storage_roundtrip_smaller_and_recall_preserved(spark, tmp_path):
    """The storage half of the SQ8 contract: the int8 parquet is
    materially smaller than the float64 original, and top-k over the
    reconstructed vectors matches the exact top-k almost everywhere."""
    import pathlib

    from csv_query_engine_spark.pipeline.similarity import (
        dequantize,
        quantize_for_storage,
    )

    e = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").select("vec_id", "embedding")
    p_f = str(tmp_path / "full")
    p_q = str(tmp_path / "sq8")
    e.coalesce(1).write.mode("overwrite").parquet(p_f)
    quantize_for_storage(e).coalesce(1).write.mode("overwrite").parquet(p_q)

    def size(p):
        return sum(f.stat().st_size for f in pathlib.Path(p).glob("*.parquet"))

    assert size(p_q) * 2.5 < size(p_f), (size(p_q), size(p_f))

    recon = dequantize(spark.read.parquet(p_q))
    q = e.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {(r["query_id"], r["cand_id"]) for r in brute_force_topk(e, q, k=5).collect()}
    approx = {
        (r["query_id"], r["cand_id"]) for r in brute_force_topk(recon, q, k=5).collect()
    }
    assert len(exact & approx) / len(exact) >= 0.9


def test_bounded_query_side_guard_raises(spark):
    """The closure-shipped query side's Q<<N contract is ENFORCED
    (round 11): past max_queries both quantize-then-rescore entry
    points raise with the knob named, and a deliberate raise admits
    the same set (the max_block_key guard convention)."""
    import pytest

    from csv_query_engine_spark.pipeline.similarity import pq_topk, quantized_topk

    e = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").select("vec_id", "embedding")
    q = e.limit(8).select(F.col("vec_id").alias("query_id"), "embedding")
    for fn in (quantized_topk, pq_topk):
        with pytest.raises(ValueError, match="max_queries"):
            fn(e, q, k=3, max_queries=7)
        assert fn(e, q, k=3, max_queries=8).count() > 0


def test_semantic_contamination_verdicts_and_guard(spark):
    """Embedding-level decontamination (round 11): planted bench members
    score exactly 1.0 and are verdicted contaminated; a scaled copy of a
    bench vector (cosine-invariant) is caught too; the bounded bench-side
    guard raises past max_bench."""
    import pytest

    from csv_query_engine_spark.pipeline.similarity import semantic_contamination

    e = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").select("vec_id", "embedding")
    bench = e.filter(F.col("vec_id") % 37 == 0)
    # plant a scaled copy of a bench vector as a NEW corpus row
    src = bench.limit(1).collect()[0]
    copy = spark.createDataFrame(
        [(9_000_000, [x * 3.0 for x in src["embedding"]])],
        "vec_id long, embedding array<float>",
    )
    out = {
        r["vec_id"]: r
        for r in semantic_contamination(
            e.unionByName(copy), bench, threshold=0.9
        ).collect()
    }
    assert len(out) == e.count() + 1
    for r in bench.collect():  # bench members ARE in the corpus: cos 1.0
        v = out[r["vec_id"]]
        assert v["contaminated"] == 1 and v["max_cosine"] == 1.0
        assert v["matched_bench_id"] == r["vec_id"]
    planted = out[9_000_000]
    assert planted["contaminated"] == 1 and planted["max_cosine"] == 1.0
    assert planted["matched_bench_id"] == src["vec_id"]
    with pytest.raises(ValueError, match="max_bench"):
        semantic_contamination(e, bench, max_bench=2)


def test_semantic_contamination_banded_recall_and_precision(spark):
    """Banded cross-set decontamination (round 11): every flagged row is
    a TRUE positive (matches the exact screen's verdict), planted
    scaled bench copies (cosine ~1) are all caught, and recall vs the
    exact screen stays high away from the threshold boundary."""
    from csv_query_engine_spark.pipeline.similarity import (
        semantic_contamination,
        semantic_contamination_banded,
    )

    e = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").select("vec_id", "embedding")
    bench = e.filter(F.col("vec_id") % 37 == 0)
    planted = bench.select(
        (F.col("vec_id") + 9_000_000).alias("vec_id"),
        F.transform(F.col("embedding"), lambda x: x * F.lit(2.0)).alias("embedding"),
    )
    corpus = e.unionByName(planted)
    exact = {
        r["vec_id"]: (r["max_cosine"], r["matched_bench_id"])
        for r in semantic_contamination(corpus, bench, threshold=0.9).collect()
        if r["contaminated"] == 1
    }
    banded = {
        r["vec_id"]: (r["max_cosine"], r["matched_bench_id"])
        for r in semantic_contamination_banded(corpus, bench, threshold=0.9).collect()
    }
    # precision 1.0: every banded verdict has an exact counterpart with
    # cosine at-or-above it (banded max is over a candidate SUBSET)
    for vid, (cos, _) in banded.items():
        assert vid in exact and exact[vid][0] >= cos
    # the cosine-1.0 rows (bench members in corpus + scaled plants) are
    # near-identical in signature space: all caught
    sure = {vid for vid, (cos, _) in exact.items() if cos == 1.0}
    assert sure <= set(banded)
    for vid in sure:
        assert banded[vid] == exact[vid]
    # overall recall against the exact screen
    assert len(set(banded) & set(exact)) / len(exact) >= 0.8


def test_banded_contamination_cache_scope_releases_blocks(spark):
    """The banded screen persists both vector tables with CALLER-OWNED
    lifetime (round-11 verdict nit): wrapping the call in cache_scope
    must leave NO new persistent blocks behind — the round-9 leak-pin
    precedent applied to this operator."""
    from csv_query_engine_spark.pipeline import cache_scope
    from csv_query_engine_spark.pipeline.similarity import semantic_contamination_banded

    sc = spark.sparkContext
    jsc = sc._jsc.sc()

    def n_persistent():
        return len(
            sc._jvm.scala.collection.JavaConverters.mapAsJavaMap(
                jsc.getPersistentRDDs()
            )
        )

    e = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").select("vec_id", "embedding")
    bench = e.filter(F.col("vec_id") % 37 == 0)
    before = n_persistent()
    with cache_scope(spark):
        semantic_contamination_banded(e, bench, threshold=0.9).count()
        assert n_persistent() > before  # the operator did persist
    assert n_persistent() == before  # ...and the scope released it all


def test_banded_contamination_quantized_mode_catches_plants(spark):
    """The quantized (oracle-paired) banded mode keeps the screen's
    semantics: planted scaled bench copies are caught with integer-
    exact verdicts, every flagged row is a true positive vs the exact
    screen, and bench members in the corpus score cosine ~1."""
    from csv_query_engine_spark.pipeline.similarity import (
        semantic_contamination,
        semantic_contamination_banded,
    )

    e = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").select("vec_id", "embedding")
    bench = e.filter(F.col("vec_id") % 37 == 0)
    planted = bench.select(
        (F.col("vec_id") + 9_000_000).alias("vec_id"),
        F.transform(F.col("embedding"), lambda x: x * F.lit(2.0)).alias("embedding"),
    )
    corpus = e.unionByName(planted)
    got = {
        r["vec_id"]: (r["max_cosine"], r["matched_bench_id"])
        for r in semantic_contamination_banded(
            corpus, bench, threshold=0.9
        ).collect()
    }
    exact = {
        r["vec_id"]: r["max_cosine"]
        for r in semantic_contamination(corpus, bench, threshold=0.9).collect()
        if r["contaminated"] == 1
    }
    # precision: every quantized-banded verdict has an exact counterpart
    # (scale-6 vs scale-4 quantization differ below 1e-4 — allow that)
    for vid, (cos, _) in got.items():
        assert vid in exact and exact[vid] >= cos - 1e-4, vid
    # bench members (cosine 1) and their scaled plants are all caught
    for r in bench.collect():
        assert got[r["vec_id"]][1] == r["vec_id"]
        assert got[r["vec_id"]][0] >= 0.999
        assert r["vec_id"] + 9_000_000 in got


def _lsh_default(spark, e):
    from csv_query_engine_spark.pipeline.similarity import lsh_bucket_topk

    q = e.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return lsh_bucket_topk(e, q), sql_lsh_topk()


def _near_dup_default(spark, e):
    from csv_query_engine_spark.pipeline.similarity import embedding_near_dup_pairs
    from csv_query_engine_spark.queries.pipeline_q import _SEMSURV_TABLE, _semsurv_corpus

    # the raw embeddings have no pair above 0.95: the planted copies
    # make the comparison non-vacuous
    out = embedding_near_dup_pairs(_semsurv_corpus(spark, SF_ORACLE))
    return out, sql_embedding_near_dup_pairs(table=_SEMSURV_TABLE)


# bench rows perturbed to cosine just under 1, so the verify cosine's
# last digits show (exact bench copies score 1.0 under any rounding)
_PERTURBED_TABLE = (
    "(SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding FROM embeddings "
    "UNION ALL SELECT vec_id + 9000000 AS vec_id, list_transform(embedding, "
    "x -> CAST(x AS DOUBLE) * CAST(1.01 AS DOUBLE) + CAST(0.001 AS DOUBLE)) AS embedding "
    "FROM embeddings WHERE vec_id % 37 = 0) ct"
)


def _banded_default(spark, e):
    from csv_query_engine_spark.pipeline.similarity import semantic_contamination_banded

    bench = e.filter(F.col("vec_id") % 37 == 0)
    planted = bench.select(
        (F.col("vec_id") + 9_000_000).alias("vec_id"),
        F.transform("embedding", lambda x: x.cast("double") * F.lit(1.01) + F.lit(0.001)).alias("embedding"),
    )
    out = semantic_contamination_banded(e.unionByName(planted), bench)
    return out, sql_contamination_banded(corpus_table=_PERTURBED_TABLE)


@pytest.mark.parametrize(
    "build", [_lsh_default, _near_dup_default, _banded_default], ids=lambda f: f.__name__[1:]
)
def test_default_call_equals_duckdb_twin(spark, duck, build):
    """A DEFAULT call of each banded embedding-LSH operator is the
    reproducible form: it equals its DuckDB twin row for row, so no
    library caller gets a result the oracle cannot replay."""
    from csv_query_engine_spark.io.readers import load_tables
    from csv_query_engine_spark.pipeline import cache_scope

    e = load_tables(spark, SF_ORACLE, ("embeddings",))["embeddings"].select("vec_id", "embedding")
    with cache_scope(spark):
        out, sql = build(spark, e)
        assert out.count() > 0
        assert_results_match(out, duck.sql(sql), build.__name__)
