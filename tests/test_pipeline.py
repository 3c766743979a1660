"""Pipeline operator correctness beyond the SQL oracles: the approximate
operators (MinHash LSH, SimHash, embedding LSH) are validated against
brute-force ground truth computed on the small SF."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from csv_query_engine_spark.io.readers import load_tables
from csv_query_engine_spark.pipeline import dedup as dd
from csv_query_engine_spark.pipeline import multimodal as mm
from csv_query_engine_spark.pipeline import similarity as sim
from csv_query_engine_spark.pipeline import text as tx
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def docs(spark):
    return load_tables(spark, SF_SMOKE, ("documents",))["documents"]


@pytest.fixture(scope="module")
def emb(spark):
    return load_tables(spark, SF_SMOKE, ("embeddings",))["embeddings"]


# --------------------------------------------------------------- text ops


def test_text_stats_basic(spark):
    df = spark.createDataFrame([(1, "The cat and the dog!!"), (2, "")], "doc_id long, text string")
    row = {r["doc_id"]: r for r in tx.with_text_stats(df).collect()}
    assert row[1]["n_tokens"] == 5
    assert row[1]["fingerprint"] == hashlib.md5(b"the cat and the dog").hexdigest()
    assert 0.0 <= row[1]["quality_score"] <= 1.0
    assert row[1]["lang_pred"] == "en"
    assert row[2]["n_tokens"] == 1  # split('') -> [''] — documented edge


def test_lang_id_rules(spark):
    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "el perro y la casa en la calle"),
            (3, "der Hund und die Katze auf dem Tisch ist"),
            (4, "你好世界"),
            (5, "zzz qqq xxx"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["pred"] for r in df.select("doc_id", tx.lang_id(F.col("text")).alias("pred")).collect()}
    assert got == {1: "en", 2: "es", 3: "de", 4: "zh", 5: "unknown"}


def test_repetition_stats_hand_computed(spark):
    df = spark.createDataFrame([(1, "a a a b"), (2, "x y")], "doc_id long, text string")
    rows = {r["doc_id"]: r for r in tx.repetition_stats(df).collect()}
    # doc1: tokens [a,a,a,b] -> distinct 2/4; top token a 3/4;
    # bigrams ["a a","a a","a b"] -> top 2/3
    assert rows[1]["n_tokens"] == 4
    assert rows[1]["distinct_ratio"] == 0.5
    assert rows[1]["top_token_frac"] == 0.75
    assert abs(rows[1]["top_bigram_frac"] - round(2 / 3, 6)) < 1e-12
    # doc2: single bigram "x y" -> 1/1
    assert rows[2]["top_bigram_frac"] == 1.0


def test_contamination_overlap_hand_computed(spark):
    df = spark.createDataFrame(
        [
            (0, "a b c d e f"),          # benchmark doc (0 % 3 == 0)
            (1, "a b c d e x y z w v"),  # 6 distinct 5-grams, one in bench
            (2, "p q r s t u"),          # 2 grams, no overlap
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in tx.contamination_overlap(df, bench_mod=3).collect()}
    assert set(out) == {1, 2}  # benchmark docs excluded from scoring
    assert out[1]["n_grams"] == 6 and out[1]["n_hit"] == 1
    assert out[1]["contamination_frac"] == round(1 / 6, 6)
    assert out[2]["n_hit"] == 0 and out[2]["contamination_frac"] == 0.0


def test_rolling_fingerprint_empty_text_is_seed(spark):
    """Spark's sequence(1,0) is the DESCENDING [1,0], not empty — the
    empty-text guard must return the bare seed (what DuckDB's empty
    range folds to), and NULL must stay NULL."""
    df = spark.createDataFrame([(1, "ab"), (2, ""), (3, None)], "doc_id long, s string")
    got = {
        r["doc_id"]: r["fp"]
        for r in df.select("doc_id", tx.rolling_fingerprint(F.col("s")).alias("fp")).collect()
    }
    assert got[2] == tx.ROLLING_HASH_SEED
    assert got[3] is None
    assert got[1] == ((tx.ROLLING_HASH_SEED * 31 + ord("a")) * 31 + ord("b")) % tx.ROLLING_HASH_MOD


# ------------------------------------------------------------------ dedup


def test_exact_dedup_canonical(spark):
    df = spark.createDataFrame(
        [(1, "Hello World"), (2, "hello, world!"), (3, "different")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["n_copies"] for r in dd.exact_dedup_canonical(df).collect()}
    # normalization folds case/punct -> docs 1,2 are the same fingerprint
    assert out == {1: 2, 3: 1}


def _brute_force_jaccard_pairs(spark, docs, threshold):
    pairs = dd.ngram_jaccard_pairs(docs, n=3, threshold=threshold)
    return {(r["id_a"], r["id_b"]) for r in pairs.collect()}


def test_minhash_lsh_precision_and_recall(spark, docs):
    subset = docs.filter(F.col("doc_id") % 5 == 0)  # 100 docs at sf0.001
    grams = dd.shingled(subset, "doc_id", "text", 5).withColumnRenamed("grams", "g")
    truth_sets = (
        grams.alias("a")
        .join(
            grams.alias("b"),
            F.col("a.id") < F.col("b.id"),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            dd.jaccard(F.col("a.g"), F.col("b.g")).alias("j"),
        )
        .filter(F.col("j") >= 0.5)
    )
    truth = {(r["id_a"], r["id_b"]) for r in truth_sets.collect()}
    got = {
        (r["id_a"], r["id_b"])
        for r in dd.minhash_lsh_pairs(subset, threshold=0.5).collect()
    }
    # verification step makes every emitted pair a true positive
    assert got <= truth
    # banded LSH @ (64 hashes, 16 bands) is near-total recall at j>=0.5
    if truth:
        assert len(got) / len(truth) >= 0.9


def test_minhash_lsh_degenerate_corpus_bucket_cap(spark):
    """1000 identical docs collapse into ONE bucket per band; without the
    max_bucket guard that is a 16×·C(1000,2) in-bucket explode on a
    single task. With the cap the oversized buckets are dropped and the
    job completes fast; small duplicate groups under the cap still pair."""
    rows = [(i, "the same exact document text repeated everywhere") for i in range(1000)]
    rows += [(10_000 + i, "a different small duplicate group of docs") for i in range(5)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = dd.minhash_lsh_pairs(df, threshold=0.5, max_bucket=500).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    # the 1000-group is over the cap -> dropped (exact dedup is the tool
    # for mass-identical docs); the 5-group pairs fully
    assert got == {(10_000 + a, 10_000 + b) for a in range(5) for b in range(a + 1, 5)}


def test_minhash_dedup_funnel_collapses_exact_groups(spark):
    """Exact-prepass funnel (round-11): the mass-identical block that
    max_bucket would DROP from plain LSH collapses to one representative
    BEFORE banding, so (a) no bucket goes oversized, (b) the group
    survives via `groups` (n_copies), and (c) cross-group near-dup
    pairs still verify among representatives."""
    near_a = "the quick brown fox jumps over the lazy dog and runs far away today"
    near_b = "the quick brown fox jumps over the lazy dog and runs far away tonight"
    rows = [(i, "the same exact document text repeated everywhere") for i in range(1000)]
    rows += [(10_000, near_a), (10_001, near_b)]
    rows += [(20_000 + i, near_b) for i in range(3)]  # exact copies of 10_001's text
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # max_bucket=500: plain LSH would drop the 1000-block entirely
    pairs, groups = dd.minhash_dedup_funnel(df, threshold=0.5, max_bucket=500)
    g = {r["doc_id"]: r["n_copies"] for r in groups.collect()}
    # 1000-block -> one rep (doc 0) with 1000 copies; near_b text has
    # 4 exact copies (10_001 + the three 20_000s) -> rep 10_001
    assert g[0] == 1000
    assert g[10_001] == 4
    assert g[10_000] == 1
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    # the near pair surfaces at REP level despite the tiny bucket cap
    assert (10_000, 10_001) in got
    # no pair touches a collapsed member id
    assert all(a < 20_000 and b < 20_000 for a, b in got)


def test_minhash_dedup_survivors_linear_verdicts(spark, docs):
    """Survivor verdicts (round-11, the linear 100-TB dedup face):
    every is_dup row must be a TRUE near-dup of its dup_of (precision
    1.0 — verified subset of the all-pairs truth), the 1000-identical
    block is fully collapsed WITHOUT any bucket cap, and verdicts are
    one row per input doc."""
    subset = docs.filter(F.col("doc_id") % 5 == 0).select("doc_id", "text")
    n_in = subset.count()
    verdicts = dd.minhash_dedup_survivors(subset, threshold=0.5)
    rows = verdicts.collect()
    assert len(rows) == n_in
    # precision: every (dup_of, doc_id) verdict appears in the exact
    # all-pairs truth at the same threshold
    truth = {
        (r["id_a"], r["id_b"])
        for r in dd.minhash_lsh_pairs(subset, threshold=0.5, est_margin=None).collect()
    }
    for r in rows:
        if r["is_dup"]:
            assert (r["dup_of"], r["doc_id"]) in truth, (r["dup_of"], r["doc_id"])
            assert r["dup_jaccard"] >= 0.5
        else:
            assert r["dup_of"] == -1 and r["dup_jaccard"] == -1.0


def test_minhash_dedup_survivors_mass_identical_no_cap(spark):
    """The degenerate block plain LSH must CAP-DROP is handled exactly
    here: 1000 identical docs -> 999 duplicates of the min id, no
    max_bucket knob involved (bucket state is a single MIN)."""
    rows = [(i, "the same exact document text repeated everywhere") for i in range(1000)]
    rows += [(5000, "an entirely different document about gardens and rivers flowing")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    v = {r["doc_id"]: r for r in dd.minhash_dedup_survivors(df, threshold=0.5).collect()}
    assert not v[0]["is_dup"]  # block min survives
    assert not v[5000]["is_dup"]
    assert all(v[i]["is_dup"] and v[i]["dup_of"] == 0 and v[i]["dup_jaccard"] == 1.0
               for i in range(1, 1000))


def test_survivor_clusters_resolves_pointer_chains(spark, docs):
    """Pointer-jumping root resolution (round 11): greedy dup_of chains
    (C dups B, B dups A) resolve to the ROOT survivor in O(log depth)
    rounds; survivors point to themselves."""
    verdicts = spark.createDataFrame(
        [
            (1, False, -1, -1.0),
            (2, False, -1, -1.0),
            (3, True, 1, 0.9),
            (4, True, 1, 0.8),
            (5, True, 3, 0.7),   # chain: 5 -> 3 -> 1
            (9, True, 5, 0.6),   # deeper: 9 -> 5 -> 3 -> 1
        ],
        "doc_id long, is_dup boolean, dup_of long, dup_jaccard double",
    )
    got = {r["doc_id"]: (r["is_dup"], r["cluster_root"])
           for r in dd.survivor_clusters(verdicts).collect()}
    assert got == {1: (False, 1), 2: (False, 2), 3: (True, 1),
                   4: (True, 1), 5: (True, 1), 9: (True, 1)}
    # integration: mass-identical docs cluster to the block-min root
    rows = [(i, "the same exact document text repeated everywhere") for i in range(50)]
    v = dd.minhash_dedup_survivors(
        spark.createDataFrame(rows, "doc_id long, text string"), threshold=0.5
    )
    roots = {r["doc_id"]: r["cluster_root"] for r in dd.survivor_clusters(v).collect()}
    assert roots == {i: 0 for i in range(50)}


def test_embedding_near_dup_pairs_banded(spark, emb):
    """Planted near-identical vectors must surface as verified pairs;
    banding blocks candidates, exact cosine guarantees precision."""
    planted = emb.filter(F.col("vec_id") % 50 == 0)
    dups = planted.select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform(F.col("embedding"), lambda x: x * F.lit(1.01) + F.lit(0.0001)).alias("embedding"),
    )
    corpus = emb.select("vec_id", "embedding").unionByName(dups)
    out = sim.embedding_near_dup_pairs(corpus, threshold=0.95)
    got = {(r["id_a"], r["id_b"]) for r in out.collect()}
    want = {r["vec_id"] for r in planted.select("vec_id").collect()}
    found = sum(1 for v in want if (v, v + 1_000_000) in got or (v + 1_000_000, v) in got)
    assert found / len(want) >= 0.9, f"planted near-dup recall {found}/{len(want)}"
    # precision: every emitted pair passed exact verification
    assert all(r["cosine"] >= 0.95 for r in out.collect())


def test_simhash_matches_python_reference(spark):
    """The Arrow UDF equals the Python reference on plain docs and edge
    cases (empty, whitespace-only, punctuation-only, mixed case, one
    character, 500 tokens, NULL). The reference gets the Spark-normalized
    text, with NULL as "" (the UDF's fillna)."""
    texts = ["the quick brown fox", "pack my box with five dozen jugs", "spark and duckdb",
             "", "   ", "!!!", "Hello, WORLD hello world", "a", "x " * 500, None]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    rows = df.select(
        "doc_id", dd.simhash_column().alias("sig"), tx.normalize_text(F.col("text")).alias("norm")
    ).collect()
    got = {r["doc_id"]: r["sig"] for r in rows}
    norm = {r["doc_id"]: r["norm"] or "" for r in rows}
    ref = dd._simhash64([norm[i] for i in range(len(texts))])
    for i in range(len(texts)):
        assert got[i] == int(ref.iloc[i]), texts[i]


def test_simhash_near_dup_finds_identical_docs(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta"), (3, "completely unrelated words here")],
        "doc_id long, text string",
    )
    pairs = {(r["id_a"], r["id_b"]): r["hamming"] for r in dd.simhash_near_dup_pairs(df).collect()}
    assert pairs.get((1, 2)) == 0
    assert (1, 3) not in pairs and (2, 3) not in pairs


# ------------------------------------------------------------- similarity


def test_lsh_topk_finds_planted_neighbors(spark, emb):
    # Uniform random vectors are LSH's worst case (all cosines ~equal),
    # so recall is measured on PLANTED near-duplicates — the workload the
    # operator exists for: queries are tiny perturbations of corpus
    # vectors; the true nearest neighbor is the source vector.
    q = (
        emb.filter(F.col("vec_id") % 50 == 0)
        .select(
            (F.col("vec_id") + 1_000_000).alias("query_id"),
            F.transform(F.col("embedding"), lambda x: x * F.lit(1.01) + F.lit(0.001)).alias("embedding"),
        )
    )
    approx = sim.lsh_bucket_topk(emb, q, k=1)
    hits = {r["query_id"] - 1_000_000: r["cand_id"] for r in approx.collect()}
    planted = [r["vec_id"] for r in emb.filter(F.col("vec_id") % 50 == 0).select("vec_id").collect()]
    found = sum(1 for v in planted if hits.get(v) == v)
    assert found / len(planted) >= 0.9, f"planted-neighbor recall {found}/{len(planted)}"


def test_label_centroids_hand_computed(spark):
    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [2.0, 2.0])],
        "label int, embedding array<float>",
    )
    out = {(r["label"], r["dim"]): r for r in sim.label_centroids(df).collect()}
    assert out[(1, 0)]["centroid"] == 0.5 and out[(1, 1)]["centroid"] == 0.5
    assert out[(2, 0)]["centroid"] == 2.0
    assert out[(1, 0)]["n_vecs"] == 2 and out[(2, 1)]["n_vecs"] == 1


def test_cosine_self_similarity(spark, emb):
    one = emb.limit(1).select(sim.cosine(F.col("embedding"), F.col("embedding")).alias("c"))
    assert abs(one.collect()[0]["c"] - 1.0) < 1e-9


# ------------------------------------------------------------- multimodal


def test_multimodal_plumbing(spark, docs):
    media = mm.attach_fake_media(docs.limit(20))
    assert media.schema["media"].dataType.typeName() == "binary"
    feats = mm.decode_media(media).collect()
    assert len(feats) == 20
    for r in feats:
        assert r["n_bytes"] > 0
        assert len(r["feature"]) == 8
        assert abs(sum(r["feature"]) - 1.0) < 1e-3  # normalized histogram


def test_multimodal_real_decode_rejects_unknown_format(spark, docs):
    # fake media is raw text bytes — not PPM/BMP; the REAL parser must
    # refuse it rather than produce garbage features
    media = mm.attach_fake_media(docs.limit(1))
    with pytest.raises(Exception, match="unsupported media format"):
        mm.decode_media(media, fake=False).collect()


def test_real_ppm_encode_decode_round_trip(spark, docs):
    import numpy as np

    media = mm.ppm_encode(docs.limit(20))
    out = {r["doc_id"]: r for r in mm.decode_media(media, fake=False).collect()}
    assert len(out) == 20
    for i, r in out.items():
        w, h = 16 + i % 16, 8 + i % 8
        assert (r["width"], r["height"]) == (w, h)
        assert r["n_bytes"] == w * h * 3  # decoded PIXEL bytes, not blob bytes
        px = (i * 31 + 7 * np.arange(w * h * 3, dtype=np.int64)) % 256
        assert abs(r["byte_mean"] - px.mean()) < 1e-9
        assert abs(r["feature"][3] - (px % 8 == 3).mean()) < 1e-9


def test_real_bmp_decode(spark):
    import struct

    import numpy as np

    # hand-built 3x2 24-bit bottom-up BMP with 4-byte row padding;
    # logical RGB pixels are 1..18 in raster order
    wid, hei = 3, 2
    stride = (wid * 3 + 3) & ~3
    off, pxsize = 54, stride * hei
    hdr = (
        b"BM"
        + struct.pack("<IHHI", off + pxsize, 0, 0, off)
        + struct.pack("<IiiHHIIiiII", 40, wid, hei, 1, 24, 0, pxsize, 2835, 2835, 0, 0)
    )
    top = bytes([3, 2, 1, 6, 5, 4, 9, 8, 7]) + b"\x00" * (stride - 9)
    bot = bytes([12, 11, 10, 15, 14, 13, 18, 17, 16]) + b"\x00" * (stride - 9)
    blob = hdr + bot + top  # bottom row stored first
    df = spark.createDataFrame([(1, bytearray(blob))], "doc_id long, media binary")
    r = mm.decode_media(df, fake=False).collect()[0]
    assert (r["width"], r["height"], r["n_bytes"]) == (3, 2, 18)
    expected = np.arange(1, 19)
    assert abs(r["byte_mean"] - expected.mean()) < 1e-9
    assert abs(r["feature"][0] - (expected % 8 == 0).mean()) < 1e-9


def test_ivf_topk_finds_planted_neighbors(spark, emb):
    # Same planted-neighbor protocol as the LSH test: queries are tiny
    # perturbations of corpus vectors; the source vector must surface.
    q = (
        emb.filter(F.col("vec_id") % 50 == 0)
        .select(
            (F.col("vec_id") + 1_000_000).alias("query_id"),
            F.transform(F.col("embedding"), lambda x: x * F.lit(1.01) + F.lit(0.001)).alias("embedding"),
        )
    )
    approx = sim.ivf_topk(emb, q, k=1, n_centroids=16, nprobe=3)
    hits = {r["query_id"] - 1_000_000: r["cand_id"] for r in approx.collect()}
    planted = [r["vec_id"] for r in emb.filter(F.col("vec_id") % 50 == 0).select("vec_id").collect()]
    found = sum(1 for v in planted if hits.get(v) == v)
    assert found / len(planted) >= 0.9, f"planted-neighbor recall {found}/{len(planted)}"


def test_multimodal_resize_plumbing(spark, docs):
    media = mm.attach_fake_media(docs.limit(10))
    out = mm.resize_media(media, width=8, height=4).collect()
    assert len(out) == 10
    for r in out:
        assert r["meta"]["width"] == 8 and r["meta"]["height"] == 4
        assert len(r["media"]) == 32  # width*height bytes exactly


def test_real_ppm_resize_nearest_neighbor(spark, docs):
    import numpy as np

    media = mm.ppm_encode(docs.limit(5))
    resized = mm.resize_media(media, width=4, height=2, fake=False)
    # the output is itself a valid PPM: decode it with the REAL parser
    out = {r["doc_id"]: r for r in mm.decode_media(resized, fake=False).collect()}
    assert len(out) == 5
    for i, r in out.items():
        assert (r["width"], r["height"], r["n_bytes"]) == (4, 2, 24)
        # expected NN sample of the closed-form source image
        sw, sh = 16 + i % 16, 8 + i % 8
        src = ((i * 31 + 7 * np.arange(sw * sh * 3, dtype=np.int64)) % 256).reshape(sh, sw, 3)
        yi = np.minimum((np.arange(2) * sh) // 2, sh - 1)
        xi = np.minimum((np.arange(4) * sw) // 4, sw - 1)
        exp = src[yi][:, xi].reshape(-1)
        assert abs(r["byte_mean"] - exp.mean()) < 1e-9


def test_multimodal_frame_sampling(spark, docs):
    media = mm.attach_fake_media(docs.limit(5))
    frames = mm.sample_frames(media, frame_bytes=64, every_n=2).collect()
    assert frames, "documents are long enough to hold at least one 64B frame"
    by_doc = {}
    for r in frames:
        by_doc.setdefault(r["doc_id"], []).append(r["frame_idx"])
        assert 0 < r["n_bytes"] <= 64
    for idxs in by_doc.values():
        assert idxs == sorted(idxs)
        assert all(i % 2 == 0 for i in idxs)  # every_n=2 keeps even frames


def test_real_ppm_stream_frame_sampling(spark):
    import numpy as np

    # a 5-frame concatenated-PPM "video" (image2pipe layout), frames of
    # DIFFERENT sizes so boundary math must come from the parsed headers
    frames = []
    for fi in range(5):
        w, h = 2 + fi, 2
        px = ((fi * 11 + np.arange(w * h * 3)) % 256).astype(np.uint8)
        frames.append(f"P6\n{w} {h}\n255\n".encode() + px.tobytes())
    blob = b"".join(frames)
    df = spark.createDataFrame([(7, bytearray(blob))], "doc_id long, media binary")
    out = sorted(mm.sample_frames(df, every_n=2, fake=False).collect(), key=lambda r: r["frame_idx"])
    assert [r["frame_idx"] for r in out] == [0, 2, 4]
    for r in out:
        fi = r["frame_idx"]
        assert bytes(r["frame"]) == frames[fi]  # re-emitted standalone PPM


# ----------------------------------------------------------- sampling ops


def test_assign_split_partitions_and_is_deterministic(docs):
    from csv_query_engine_spark.pipeline import sampling as smp

    labeled = docs.select("doc_id", smp.assign_split(F.col("doc_id"), salt="doc-"))
    total = docs.count()
    by_split = {r["split"]: r["n"] for r in labeled.groupBy("split").agg(F.count("*").alias("n")).collect()}
    # every row gets exactly one label; fractions near 80/10/10
    assert sum(by_split.values()) == total
    assert by_split["train"] / total == pytest.approx(0.8, abs=0.1)
    # a second run assigns identically (no RNG state)
    again = docs.select("doc_id", smp.assign_split(F.col("doc_id"), salt="doc-"))
    assert labeled.exceptAll(again).count() == 0


def test_deterministic_sample_is_stable_and_sized(docs):
    from csv_query_engine_spark.pipeline import sampling as smp

    s1 = smp.deterministic_sample(docs, F.col("doc_id"), 0.2)
    s2 = smp.deterministic_sample(docs, F.col("doc_id"), 0.2)
    assert s1.select("doc_id").exceptAll(s2.select("doc_id")).count() == 0
    frac = s1.count() / docs.count()
    assert frac == pytest.approx(0.2, abs=0.12)
    # membership is monotone in fraction: the 20% sample contains the 10% one
    s_small = smp.deterministic_sample(docs, F.col("doc_id"), 0.1)
    assert s_small.select("doc_id").exceptAll(s1.select("doc_id")).count() == 0


def test_stratified_fixed_sample_exact_k_per_stratum(docs):
    from csv_query_engine_spark.pipeline import sampling as smp

    k = 7
    samp = smp.stratified_fixed_sample(docs, "lang", F.col("doc_id"), k)
    sizes = {r["lang"]: r["n"] for r in samp.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    strata = {r["lang"]: r["n"] for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert sizes == {lang: min(k, n) for lang, n in strata.items()}
    # ranks are 1..k without gaps inside each stratum
    ranks = [r["sample_rank"] for r in samp.filter(F.col("lang") == "en").collect()]
    assert sorted(ranks) == list(range(1, min(k, strata["en"]) + 1))


def test_stratified_threshold_form_matches_window_form(spark, docs):
    """The large-k two-pass threshold path (round 11) selects the SAME
    rows with the SAME ranks as the full-ranking form, with the window
    input bounded by the prefilter; an undershooting margin RAISES
    instead of returning a short sample."""
    import pytest

    from csv_query_engine_spark.pipeline import sampling as smp

    for k in (3, 7, 40):
        win = {
            (r["doc_id"], r["sample_rank"])
            for r in smp.stratified_fixed_sample(docs, "lang", F.col("doc_id"), k).collect()
        }
        thr = {
            (r["doc_id"], r["sample_rank"])
            for r in smp.stratified_fixed_sample_threshold(
                docs, "lang", F.col("doc_id"), k
            ).collect()
        }
        assert thr == win, k
    # deterministic undershoot on this fixture: margin 0.01 keeps ~k/100
    # of the required survivors in the big strata
    with pytest.raises(ValueError, match="raise margin"):
        smp.stratified_fixed_sample_threshold(
            docs, "lang", F.col("doc_id"), 50, margin=0.01
        )


def test_token_budget_sample_prefix_and_budget(spark):
    from csv_query_engine_spark.pipeline import sampling as smp

    df = spark.createDataFrame(
        [(i, "en" if i % 2 == 0 else "fr", 10 + i) for i in range(40)],
        "doc_id long, lang string, n_tokens int",
    )
    out = smp.token_budget_sample(df, "lang", F.col("doc_id"), F.col("n_tokens"), 100)
    rows = out.collect()
    # budget respected per stratum (running total includes current row)
    for lang in ("en", "fr"):
        tot = sum(r["n_tokens"] for r in rows if r["lang"] == lang)
        assert tot <= 100
        assert max(r["cum_tokens"] for r in rows if r["lang"] == lang) == tot
    # deterministic: identical selection on re-run
    again = smp.token_budget_sample(df, "lang", F.col("doc_id"), F.col("n_tokens"), 100)
    assert out.exceptAll(again).count() == 0
    # prefix property: a larger budget only ADDS docs, never swaps them
    bigger = smp.token_budget_sample(df, "lang", F.col("doc_id"), F.col("n_tokens"), 200)
    assert out.select("doc_id").exceptAll(bigger.select("doc_id")).count() == 0


def test_duplicate_span_stats_hand_computed(spark):
    df = spark.createDataFrame(
        [
            (1, "a b c d e f g h tail one"),   # shares the 8-span "a..h" with doc 2
            (2, "a b c d e f g h tail two"),
            (3, "p q r s t u v w x y"),        # unique spans
            (4, "short doc"),                  # < 8 tokens -> zero spans
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in tx.duplicate_span_stats(df, n=8).collect()}
    # docs 1/2: 3 distinct spans each; "a..h" and "b..tail" are shared,
    # only the final span differs ("...tail one" vs "...tail two")
    assert out[1]["n_spans"] == 3 and out[1]["n_dup_spans"] == 2
    assert out[1]["dup_frac"] == round(2 / 3, 6)
    assert out[2]["n_dup_spans"] == 2
    assert out[3]["n_dup_spans"] == 0 and out[3]["dup_frac"] == 0.0
    assert out[4]["n_spans"] == 0 and out[4]["dup_frac"] == 0.0


def test_quality_filter_flags(spark):
    good = "the cat and the dog sat on a mat with a hat and the bat ran to the " \
           "yard while the sun was up and the wind was low and all was well here"
    df = spark.createDataFrame(
        [
            (1, good),                         # passes every rule
            (2, "word " * 10),                 # too short
            (3, ("spark " * 40).strip()),      # degenerate repetition, no stopwords
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in tx.quality_filter(df).collect()}
    assert out[1]["passes"] and all(
        out[1][c] for c in ("ok_token_count", "ok_mean_token_len", "ok_stopword_ratio", "ok_distinct_ratio")
    )
    assert not out[2]["ok_token_count"] and not out[2]["passes"]
    assert not out[3]["ok_stopword_ratio"] and not out[3]["ok_distinct_ratio"] and not out[3]["passes"]


def test_png_parser_all_filter_types():
    """Hand-built 2x2 RGB PNGs, one per scanline filter type (the
    encoder only emits filter 0): the parser must reconstruct the same
    pixels a reference spec-following unfilter produces."""
    import struct
    import zlib

    import numpy as np

    from csv_query_engine_spark.pipeline.multimodal import _make_image_parser

    parse = _make_image_parser()

    def chunk(typ, payload):
        return (
            struct.pack(">I", len(payload))
            + typ
            + payload
            + struct.pack(">I", zlib.crc32(typ + payload) & 0xFFFFFFFF)
        )

    def build_png(filtered_rows):
        raw = b"".join(bytes([f]) + bytes(line) for f, line in filtered_rows)
        return (
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 0))
            + chunk(b"IDAT", zlib.compress(raw))
            + chunk(b"IEND", b"")
        )

    target = [[10, 20, 30, 40, 50, 60], [15, 25, 35, 45, 55, 65]]  # 2x2 RGB

    def paeth(a, b, c):
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        return a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)

    def filter_row(f, row, prev):
        out = []
        for x, v in enumerate(row):
            a = row[x - 3] if x >= 3 else 0
            b = prev[x]
            c = prev[x - 3] if x >= 3 else 0
            pred = {0: 0, 1: a, 2: b, 3: (a + b) // 2, 4: paeth(a, b, c)}[f]
            out.append((v - pred) % 256)
        return out

    for f in range(5):
        rows = [
            (f, filter_row(f, target[0], [0] * 6)),
            (f, filter_row(f, target[1], target[0])),
        ]
        fmt, w, h, px, consumed = parse(build_png(rows), np)
        assert (fmt, w, h) == ("image/png", 2, 2)
        assert px.tolist() == target[0] + target[1], (f, px.tolist())
        assert consumed == len(build_png(rows))


def test_png_parser_rejects_unsupported():
    import struct
    import zlib

    import numpy as np
    import pytest as _pt

    from csv_query_engine_spark.pipeline.multimodal import _make_image_parser

    parse = _make_image_parser()

    def chunk(typ, payload):
        return (
            struct.pack(">I", len(payload))
            + typ
            + payload
            + struct.pack(">I", zlib.crc32(typ + payload) & 0xFFFFFFFF)
        )

    # grayscale (color type 0) must be refused, not mis-decoded
    bad = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 0, 0, 0, 0))
        + chunk(b"IEND", b"")
    )
    with _pt.raises(ValueError, match="only 8-bit RGB"):
        parse(bad, np)
    with _pt.raises(ValueError, match="truncated PNG"):
        parse(b"\x89PNG\r\n\x1a\n" + chunk(b"IDAT", b"xx"), np)


def test_frame_sample_real_mixed_ppm_png_stream(spark):
    """The real frame walker must handle a concatenated stream that
    mixes PPM and PNG frames (the shared parser reports per-frame
    consumed bytes), re-emitting every frame as a standalone PPM."""
    import struct
    import zlib

    import numpy as np

    from csv_query_engine_spark.pipeline import multimodal as mm

    def ppm_frame(val, w=4, h=2):
        px = bytes([(val + i) % 256 for i in range(w * h * 3)])
        return f"P6\n{w} {h}\n255\n".encode() + px, px

    def png_frame(val, w=4, h=2):
        def chunk(typ, payload):
            return (
                struct.pack(">I", len(payload))
                + typ
                + payload
                + struct.pack(">I", zlib.crc32(typ + payload) & 0xFFFFFFFF)
            )

        px = bytes([(val + i) % 256 for i in range(w * h * 3)])
        raw = b"".join(b"\x00" + px[y * w * 3 : (y + 1) * w * 3] for y in range(h))
        blob = (
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
            + chunk(b"IDAT", zlib.compress(raw))
            + chunk(b"IEND", b"")
        )
        return blob, px

    f0, p0 = ppm_frame(10)
    f1, p1 = png_frame(50)
    f2, p2 = ppm_frame(90)
    stream = f0 + f1 + f2
    df = spark.createDataFrame([(7, bytearray(stream))], "doc_id long, media binary")
    rows = sorted(
        mm.sample_frames(df, every_n=1, fake=False).collect(), key=lambda r: r["frame_idx"]
    )
    assert [r["frame_idx"] for r in rows] == [0, 1, 2]
    header = b"P6\n4 2\n255\n"
    assert [bytes(r["frame"]) for r in rows] == [header + p0, header + p1, header + p2]


def test_hard_negative_topk_excludes_same_label(spark):
    """Hard negatives: every returned candidate has a different label
    from its query, ranks are contiguous from 1, and the top hard
    negative is the best DIFFERENT-label neighbor even when a
    same-label vector is globally closer."""
    from csv_query_engine_spark.pipeline.similarity import hard_negative_topk

    rows = [
        (0, [1.0, 0.0], 0),   # query
        (1, [0.99, 0.14], 0), # same label, closest overall -> excluded
        (2, [0.9, 0.44], 1),  # best different-label neighbor
        (3, [0.0, 1.0], 1),
        (4, [-1.0, 0.0], 2),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    q = df.filter("vec_id = 0").selectExpr("vec_id AS query_id", "embedding", "label")
    out = hard_negative_topk(df, q, k=3).collect()
    labels = {r["vec_id"]: r["label"] for r in df.collect()}
    assert [r["rank"] for r in out] == [1, 2, 3]
    assert all(labels[r["cand_id"]] != 0 for r in out)
    assert out[0]["cand_id"] == 2


def test_token_budget_threshold_form_matches_window_form(spark, docs):
    """Round 12: the two-pass hash-threshold token-budget plan selects
    the SAME rows with the SAME cum_tokens as the full window form; an
    undershooting margin RAISES instead of returning a short mix."""
    import pytest

    from csv_query_engine_spark.pipeline import sampling as smp
    from csv_query_engine_spark.pipeline.text import token_count

    base = docs.select("doc_id", "lang", token_count(F.col("text")).alias("n_tokens"))
    for budget in (300, 1500, 10**9):
        win = {
            (r["doc_id"], r["cum_tokens"])
            for r in smp.token_budget_sample(
                base, "lang", F.col("doc_id"), F.col("n_tokens"), budget
            ).collect()
        }
        thr = {
            (r["doc_id"], r["cum_tokens"])
            for r in smp.token_budget_sample_threshold(
                base, "lang", F.col("doc_id"), F.col("n_tokens"), budget
            ).collect()
        }
        assert thr == win, budget
        assert win  # never vacuous
    # the prefilter actually cuts rows at a small budget (scale claim)
    totals = {r["lang"]: r["n"] for r in base.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    kept = smp.token_budget_sample_threshold(
        base, "lang", F.col("doc_id"), F.col("n_tokens"), 300, margin=4.0
    )
    # survivors of the prefilter are bounded well below the strata sizes:
    # re-derive the prefilter input size via the internal plan shape by
    # checking the OUTPUT is correct while strata are much larger
    assert kept.count() < sum(totals.values())
    # deterministic undershoot: a sub-1 margin cuts before the boundary
    with pytest.raises(ValueError, match="raise margin"):
        smp.token_budget_sample_threshold(
            base, "lang", F.col("doc_id"), F.col("n_tokens"), 300, margin=0.05
        )


def test_threshold_guards_catch_fully_emptied_strata(spark, docs):
    """Round-12 guard fix: a margin small enough that the prefilter
    empties a stratum ENTIRELY must still raise — the survivors-side
    aggregate never saw such strata (the worst shortfall was invisible
    to the old guard)."""
    import pytest

    from csv_query_engine_spark.pipeline import sampling as smp
    from csv_query_engine_spark.pipeline.text import token_count

    with pytest.raises(ValueError, match="raise margin"):
        smp.stratified_fixed_sample_threshold(
            docs, "lang", F.col("doc_id"), 50, margin=1e-7
        )
    base = docs.select("doc_id", "lang", token_count(F.col("text")).alias("n_tokens"))
    with pytest.raises(ValueError, match="raise margin"):
        smp.token_budget_sample_threshold(
            base, "lang", F.col("doc_id"), F.col("n_tokens"), 300, margin=1e-7
        )


def test_minhash_survivors_screen_partitions_modes_agree(spark):
    """Round-13: screen_partitions only changes exchange partitioning —
    verdicts are identical across None / int / auto modes."""
    from csv_query_engine_spark.pipeline.dedup import minhash_dedup_survivors

    docs = (
        spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        .select("doc_id", "text")
        .limit(400)
    )
    base = {
        tuple(r)
        for r in minhash_dedup_survivors(docs, threshold=0.5).collect()
    }
    pinned = {
        tuple(r)
        for r in minhash_dedup_survivors(
            docs, threshold=0.5, screen_partitions=8
        ).collect()
    }
    auto = {
        tuple(r)
        for r in minhash_dedup_survivors(
            docs, threshold=0.5, screen_partitions="auto"
        ).collect()
    }
    assert base == pinned == auto and len(base) == 400


def test_token_budget_waterfill_level_and_allocations(spark):
    """Hand-computed water level plus the MAXIMALITY property: the
    level spends ≤ budget and level+1 would overspend."""
    from csv_query_engine_spark.pipeline import sampling as smp

    df = spark.createDataFrame(
        [("a", 100), ("b", 300), ("c", 1000), ("d", 50)],
        "lang string, n int",
    )
    from csv_query_engine_spark.pipeline import cache_scope

    with cache_scope(df.sparkSession):
        out = {
            r["lang"]: r
            for r in smp.token_budget_waterfill(df, "lang", F.col("n"), 600).collect()
        }
    # sorted n: d=50, a=100, b=300, c=1000; f(L)=Σmin(n,L):
    # f(225)=50+100+225+225=600 ≤ 600; f(226)=602 > 600 → level 225
    assert all(r["level"] == 225 for r in out.values())
    assert out["d"]["allocated"] == 50 and not out["d"]["capped"]
    assert out["a"]["allocated"] == 100 and not out["a"]["capped"]
    assert out["b"]["allocated"] == 225 and out["b"]["capped"]
    assert out["c"]["allocated"] == 225 and out["c"]["capped"]
    spent = sum(r["allocated"] for r in out.values())
    assert spent <= 600
    assert sum(min(r["n_tokens"], 226) for r in out.values()) > 600


def test_token_budget_waterfill_budget_covers_everything(spark):
    from csv_query_engine_spark.pipeline import sampling as smp

    df = spark.createDataFrame(
        [("a", 100), ("b", 300)], "lang string, n int"
    )
    from csv_query_engine_spark.pipeline import cache_scope

    with cache_scope(df.sparkSession):
        rows = smp.token_budget_waterfill(df, "lang", F.col("n"), 1000).collect()
    assert all(r["allocated"] == r["n_tokens"] and not r["capped"] for r in rows)
    assert all(r["level"] == 300 for r in rows)  # max(n) when uncapped


def test_token_budget_waterfill_zero_budget(spark):
    from csv_query_engine_spark.pipeline import sampling as smp

    df = spark.createDataFrame(
        [("a", 100), ("b", 300)], "lang string, n int"
    )
    from csv_query_engine_spark.pipeline import cache_scope

    with cache_scope(df.sparkSession):
        rows = smp.token_budget_waterfill(df, "lang", F.col("n"), 0).collect()
    assert all(r["level"] == 0 and r["allocated"] == 0 and r["capped"] for r in rows)


def test_token_budget_waterfill_no_unpartitioned_window(spark):
    from csv_query_engine_spark.pipeline import sampling as smp

    df = spark.createDataFrame(
        [("a", 100), ("b", 300)], "lang string, n int"
    )
    plan = (
        smp.token_budget_waterfill(df, "lang", F.col("n"), 100)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_token_budget_sample_allocated_equals_scalar_per_stratum(spark):
    """The per-stratum-budget form: each stratum's kept set equals the
    scalar form run on that stratum alone with its own budget, and a
    stratum absent from the allocations keeps NOTHING (the
    complete-or-absent rule)."""
    from csv_query_engine_spark.pipeline import sampling as smp

    df = spark.createDataFrame(
        [(i, "en" if i % 2 == 0 else "fr", 10 + i) for i in range(40)],
        "doc_id long, lang string, n_tokens int",
    )
    alloc = spark.createDataFrame([("en", 120), ("fr", 60)], "lang string, allocated long")
    got = smp.token_budget_sample_allocated(
        df, "lang", F.col("doc_id"), F.col("n_tokens"), alloc
    )
    for lang, budget in (("en", 120), ("fr", 60)):
        want = smp.token_budget_sample(
            df.filter(F.col("lang") == lang), "lang", F.col("doc_id"),
            F.col("n_tokens"), budget,
        )
        g = sorted(
            (r["doc_id"], r["cum_tokens"])
            for r in got.filter(F.col("lang") == lang).collect()
        )
        w = sorted((r["doc_id"], r["cum_tokens"]) for r in want.collect())
        assert g == w, lang
    # absent stratum keeps nothing
    part = smp.token_budget_sample_allocated(
        df, "lang", F.col("doc_id"), F.col("n_tokens"),
        spark.createDataFrame([("en", 120)], "lang string, allocated long"),
    )
    assert part.filter(F.col("lang") == "fr").count() == 0


def test_token_budget_waterfill_group_cardinality_guard(spark):
    import pytest

    from csv_query_engine_spark.pipeline import sampling as smp

    df = spark.createDataFrame(
        [(i, f"g{i}", 10) for i in range(6)], "doc_id long, lang string, n int"
    )
    from csv_query_engine_spark.pipeline import cache_scope

    with cache_scope(df.sparkSession):
        with pytest.raises(ValueError, match="max_groups"):
            smp.token_budget_waterfill(df, "lang", F.col("n"), 100, max_groups=4)
        # at the bound it still runs
        assert (
            smp.token_budget_waterfill(df, "lang", F.col("n"), 100, max_groups=6).count()
            == 6
        )
