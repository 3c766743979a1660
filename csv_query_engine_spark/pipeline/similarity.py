"""Embedding similarity search over an ``array<float>`` column
(SURVEY.md §7 phase 6).

* :func:`brute_force_topk` — exact cosine top-k: broadcast the query
  set, score every (query, candidate) pair with built-in higher-order
  functions (zip_with + aggregate: JVM-side, no Python), window top-k.
  The correctness baseline; O(Q×N) scoring but embarrassingly parallel
  and shuffle-free until the final per-query top-k.
* :func:`lsh_bucket_topk` — the scale path: random-hyperplane signatures
  over scale-6 integer planes (deterministic seeds), candidates
  restricted to matching buckets with multi-probe (Hamming ≤ 1 bucket
  neighbors), integer-cosine rescoring inside the bucket. Sub-linear
  candidate volume at 100 TB; approximate recall.

The banded embedding-LSH operators (:func:`lsh_bucket_topk`,
:func:`embedding_near_dup_pairs`, :func:`semantic_contamination_banded`,
:func:`semantic_dedup_survivors`) have ONE form: scale-6 integer planes
(:func:`_quantized_planes` / :func:`quantized_band_buckets_udf`) and
:func:`quantized_cosine`, the arithmetic their DuckDB twins replay.
"""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T

from csv_query_engine_spark.pipeline.common import pin as _pin
from csv_query_engine_spark.pipeline.common import spread as _spread
from csv_query_engine_spark.pipeline.dedup import _in_bucket_pairs

# Data-proportional partition sizing for the packed-vector Arrow/numpy
# stages in this module (guide §2/§4; round-14 scaling block: the Arrow
# family ran 2-7x faster on 8 cores than 32 at sf0.1 because per-stage
# Python worker fan-out tracked cores, not data). ~2 MB of vectors per
# partition keeps numpy batches large; at cluster scale the scan
# arrives at session parallelism and spread passes through unchanged.
_VEC_BPP = 2 << 20


def _spread_v(df):
    return _spread(df, _VEC_BPP)


def dot(u: Column, v: Column) -> Column:
    """Dot product of two float arrays via zip_with + aggregate (left
    fold in index order — deterministic)."""
    return F.aggregate(
        F.zip_with(u, v, lambda a, b: a.cast("double") * b.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(u: Column) -> Column:
    return F.sqrt(F.aggregate(u, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")))


def cosine(u: Column, v: Column) -> Column:
    """Cosine similarity; 0.0 for zero vectors."""
    denom = l2_norm(u) * l2_norm(v)
    return F.when(denom > 0, dot(u, v) / denom).otherwise(F.lit(0.0))


def _floor_quantize(x: Column, digits: int) -> Column:
    """Pure-IEEE half-up quantization FLOOR(x·10^d + 0.5)/10^d — the
    CLAUDE.md rounding idiom for values that feed cross-engine verdicts
    or argmax-equality tiebreaks (engine ROUND diverges: Spark rounds
    the BigDecimal string repr, DuckDB the scaled double)."""
    s = float(10**digits)
    return F.floor(x * F.lit(s) + F.lit(0.5)) / F.lit(s)


def _bounded_query_rows(queries: DataFrame, cols: list, max_queries: int) -> list:
    """Collect the query table under an ENFORCED bound — the
    bounded-side contract the quantize-then-rescore operators ship in
    their UDF closures (Q ≪ N) made self-enforcing instead of a
    docstring convention (the max_block_key / max_bucket / direct_limit
    rule: guards raise, never silently truncate).  The probe costs one
    ``limit(max+1)`` count, never a full count of an oversized side."""
    probe = queries.limit(max_queries + 1).count()
    if probe > max_queries:
        raise ValueError(
            f"query side exceeds max_queries={max_queries} (the closure-"
            "shipped bounded side); raise max_queries deliberately or "
            "swap the sides — the corpus belongs on the distributed side"
        )
    return queries.select(*cols).collect()


def brute_force_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    rounding: int | None = None,
    exclude_same_label_col: str | None = None,
) -> DataFrame:
    """Exact top-k by cosine for each query vector.

    ``exclude_same_label_col``: when set (a column present on BOTH
    frames), candidates sharing the query's label are excluded — the
    hard-negative-mining mode (:func:`hard_negative_topk`).

    ``queries``: (query_id_col, vec_col). The query side is broadcast —
    at scale Q (queries) ≪ N (corpus), so every executor scores its local
    corpus partitions against the full query set; the only shuffle is the
    per-query top-k, bounded by Q×k rows after partial TakeOrdered."""
    qcols = [F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("q_vec")]
    ccols = [F.col(id_col).alias("cand_id"), F.col(vec_col).alias("c_vec")]
    cond = F.col("cand_id") != F.col("query_id")
    if exclude_same_label_col is not None:
        # hard-negative mode: same-label candidates are POSITIVES and
        # must not appear in the ranking
        qcols.append(F.col(exclude_same_label_col).alias("q_label"))
        ccols.append(F.col(exclude_same_label_col).alias("c_label"))
        cond = cond & (F.col("c_label") != F.col("q_label"))
    q = queries.select(*qcols)
    # core-count spread, NOT data-proportional: per-row work here is Q
    # interpreted zip_with/aggregate cosine folds (heavy per row) — the
    # round-15 A/B measured the bytes-sized form 3.8x WORSE on the
    # sibling semantic_contamination screen
    c = _spread(embeddings).select(*ccols)
    score = cosine(F.col("q_vec"), F.col("c_vec"))
    if rounding is not None:
        # Round before ranking so sub-ulp float-order noise cannot flip
        # ranks differently across engines/partitionings.
        score = F.round(score, rounding)
    scored = c.join(F.broadcast(q), cond).select(
        "query_id", "cand_id", score.alias("cosine")
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), "cand_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "cand_id", "cosine", "rank")
    )


def semantic_contamination(
    corpus: DataFrame,
    bench: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bench_id_col: str = "vec_id",
    rounding: int = 4,
    max_bench: int = 100_000,
) -> DataFrame:
    """Embedding-level DECONTAMINATION screen (round 11) — the semantic
    complement of the gram-based `benchmark decontamination`: per corpus
    vector, the MAX cosine against the benchmark/eval set, with a
    contamination verdict at ``threshold``.  Catches paraphrased or
    re-tokenized eval leakage that exact n-gram overlap misses — the
    screen modern training pipelines run next to the lexical one.

    Scale: the benchmark set is the BOUNDED side (guarded by
    ``max_bench`` — raises past it, the module convention) and ships as
    a broadcast to a JVM-side zip_with/aggregate cosine against every
    corpus partition — one pass over the corpus, no shuffle until the
    per-vector max aggregation (map-side combined).  Scores quantize to
    ``rounding`` dp BEFORE the argmax so float-order noise cannot flip
    the matched id across engines; ties break to the smallest bench id.
    Quantization is the pinned pure-IEEE form FLOOR(cos·10^r + 0.5)/10^r
    — NEVER engine ROUND: the quantized value feeds both the >=
    threshold verdict and the argmax-equality tiebreak, and Spark/DuckDB
    ROUND disagree systematically at boundaries (CLAUDE.md; the
    pagerank precedent showed a flip can hide at two sweep tiers).

    Bench sets past ~10⁵ rows belong on
    :func:`semantic_contamination_banded` — decide BEFORE sizing
    ``max_bench`` up: this screen pays |corpus|·|bench| cosine folds by
    design (each corpus vector scores the full broadcast bench), so a
    10⁶-row bench costs 10× the default's work per corpus vector, while
    the banded path shuffles both sides once on (band, bucket) and
    verifies only co-bucketed candidates.

    Output: (id_col, contaminated 0/1, max_cosine, matched_bench_id) —
    one row per corpus vector (sentinels never needed: a nonempty bench
    set always yields a max)."""
    probe = bench.limit(max_bench + 1).count()
    if probe > max_bench:
        raise ValueError(
            f"bench side exceeds max_bench={max_bench} (the broadcast-"
            "shipped bounded side); raise max_bench deliberately or use "
            "the LSH/banded path for bench sets that are corpus-sized"
        )
    b = bench.select(
        F.col(bench_id_col).alias("bench_id"), F.col(vec_col).alias("b_vec")
    )
    # core-count spread, NOT data-proportional: each corpus row pays
    # |bench| interpreted cosine folds (heavy per row) — measured 3.8x
    # worse when sized by bytes (round-15 A/B)
    c = _spread(corpus).select(F.col(id_col), F.col(vec_col).alias("c_vec"))
    score = _floor_quantize(cosine(F.col("c_vec"), F.col("b_vec")), rounding)
    best = (
        c.crossJoin(F.broadcast(b))
        .select(
            id_col,
            F.struct(
                score.alias("cos"), (-F.col("bench_id")).cast("long").alias("nbid")
            ).alias("s"),
        )
        .groupBy(id_col)
        .agg(F.max("s").alias("m"))
    )
    return best.select(
        F.col(id_col),
        (F.col("m.cos") >= F.lit(float(threshold))).cast("int").alias("contaminated"),
        F.col("m.cos").alias("max_cosine"),
        (-F.col("m.nbid")).cast("bigint").alias("matched_bench_id"),
    )


def _hyperplanes(n_planes: int, dim: int) -> list[list[float]]:
    """Deterministic pseudo-random unit hyperplanes: components derived
    from md5 of (plane, coordinate) — reproducible across runs/processes
    with no RNG state."""
    planes = []
    for p in range(n_planes):
        vec = []
        for d in range(dim):
            h = int.from_bytes(hashlib.md5(f"{p}:{d}".encode()).digest()[:8], "big")
            # map to (-1, 1)
            vec.append((h / float(1 << 63)) - 1.0)
        norm = math.sqrt(sum(x * x for x in vec)) or 1.0
        planes.append([x / norm for x in vec])
    return planes


def _quantized_planes(n_planes: int, dim: int, scale: int = 6) -> list[list[int]]:
    """Scale-``scale`` fixed-point INTEGER hyperplanes: each float
    component of :func:`_hyperplanes` quantized with the pure-IEEE
    FLOOR(p·10^s + 0.5) — driver-side ints a DuckDB twin can emit as
    literals, so every sign decision downstream is exact integer
    arithmetic (the kmeans/semantic-dedup precedent applied to LSH
    signatures — round-11 verdict #3)."""
    import math as _math

    return [
        [int(_math.floor(p * float(10**scale) + 0.5)) for p in plane]
        for plane in _hyperplanes(n_planes, dim)
    ]


def quantized_band_buckets_udf(planes_q: list[list[int]], n_bands: int):
    """Arrow-batched band-bucket computation over QUANTIZED planes:
    vector coordinates quantize to scale-6 longs (float64
    floor(x·1e6+0.5) — bit-equal to the engine/DuckDB expression), the
    plane dots are one exact int64 matmul per batch (|pq|≤1e6, |xq|
    bounded by the coordinate range, 64 dims → |dot| ≪ 2⁶³), and each
    band's bucket id packs that band's sign bits little-endian.
    Returns array<int> of length n_bands — per-band bucket ids a SQL
    twin reproduces with SUM(pq·xq)>=0 bits and bit-shifts, no
    two's-complement assembly needed (buckets stay ≤ band_bits ≤ 16
    bits, unlike the packed 64-bit signature)."""
    import numpy as np

    mat = np.asarray(planes_q, dtype=np.int64).T  # dim × n_planes
    n_planes = mat.shape[1]
    band_bits = n_planes // n_bands
    w = (1 << np.arange(band_bits, dtype=np.int64))

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def buckets(col):
        import numpy as _np
        import pandas as _pd

        if len(col) == 0:
            return _pd.Series([], dtype=object)
        m = _np.stack([_np.asarray(v, dtype=_np.float64) for v in col])
        q = _np.floor(m * 1e6 + 0.5).astype(_np.int64)
        bits = (q @ mat) >= 0  # B × n_planes, exact int64 dots
        out = _np.empty((len(col), n_bands), dtype=_np.int32)
        for b in range(n_bands):
            seg = bits[:, b * band_bits : (b + 1) * band_bits].astype(_np.int64)
            out[:, b] = (seg * w).sum(axis=1).astype(_np.int32)
        return _pd.Series([row.tolist() for row in out])

    return buckets


def _quantized_norm(vec: Column) -> Column:
    """Σ q(x)² as an exact long over scale-6 quantized coordinates."""
    return F.aggregate(
        vec,
        F.lit(0).cast("long"),
        lambda acc, x: acc + _km_quant(x) * _km_quant(x),
    )


def quantized_cosine(vec_a: Column, vec_b: Column, na: Column, nb: Column) -> Column:
    """THE verify cosine of the quantized embedding family: exact
    int64 dot over scale-6 quantized coordinates, then the single-IEEE
    FLOOR(dotq/√(na·nb)·1e6+0.5)/1e6 (never engine ROUND), 0.0 when
    either norm is zero.  `semantic_dedup_survivors`, the quantized
    banded contamination screen, and the streaming semantic admission
    all build on this — never re-inline the expression (the
    `features._hash32` drift rule applied to the cosine)."""
    dotq = F.aggregate(
        F.zip_with(vec_a, vec_b, lambda a, c: _km_quant(a) * _km_quant(c)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    den = F.sqrt(na.cast("double") * nb.cast("double"))
    return F.when(
        (na > 0) & (nb > 0),
        F.floor(dotq.cast("double") / den * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6),
    ).otherwise(F.lit(0.0))


# --- shared DuckDB CTE builders for the quantized banded-LSH twins ---
# (the `_minhash_rep_ctes` drift rule applied to the embedding family:
# every twin that replays _quantized_planes/quantized_band_buckets_udf
# builds on THESE, never on re-inlined CTE text)


def _sql_planes_values(planes_q: list[list[int]]) -> str:
    """VALUES rows for the scale-6 integer plane literals."""
    return ",\n               ".join(
        f"({p}, [{','.join(str(x) for x in plane)}])" for p, plane in enumerate(planes_q)
    )


def _sql_quantized_dims(src: str, out: str, id_col: str, vec_col: str) -> str:
    """Parenthesized subquery: per-(id, pos) scale-6 quantized coords."""
    return f"""(
        SELECT {id_col} AS {out},
               generate_subscripts({vec_col}, 1) - 1 AS pos,
               CAST(FLOOR(CAST(unnest({vec_col}) AS DOUBLE) * 1e6 + 0.5) AS BIGINT) AS xq
        FROM {src}
    )"""


def _sql_band_buckets(dims: str, out: str, band_bits: int) -> str:
    """Parenthesized subquery: per-(id, band) little-endian bucket ids
    from exact integer plane dots (requires a `planes` CTE in scope)."""
    return f"""(
        SELECT {out}, plane // {band_bits} AS band,
               CAST(SUM(CAST(bit AS BIGINT) << CAST(plane % {band_bits} AS INT)) AS INT) AS bucket
        FROM (
            SELECT d.{out}, p.plane,
                   CASE WHEN SUM(p.pq * d.xq) >= 0 THEN 1 ELSE 0 END AS bit
            FROM {dims} d JOIN planes p USING (pos)
            GROUP BY d.{out}, p.plane
        )
        GROUP BY {out}, plane // {band_bits}
    )"""


def lsh_bucket_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_planes: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    multiprobe_hamming: int = 1,
) -> DataFrame:
    """Approximate top-k: exact cosine rescoring restricted to candidates
    whose hyperplane signature is within ``multiprobe_hamming`` bits of
    the query's signature (multi-probe raises recall without touching
    more than (1 + n_planes) buckets per query).

    Signatures come from the scale-6 integer planes
    (:func:`quantized_band_buckets_udf` with ONE band — the packed
    signature IS a single band bucket), so every sign decision is exact
    int64 arithmetic, and the rescore is :func:`quantized_cosine` — the
    whole candidates→rescore→rank pipeline replays in DuckDB
    (:func:`sql_lsh_topk`), recall trade included."""
    buckets_udf = quantized_band_buckets_udf(_quantized_planes(n_planes, dim), n_bands=1)

    def sig(col):
        return F.element_at(buckets_udf(col), 1)

    c = _spread_v(embeddings).select(
        F.col(id_col).alias("cand_id"),
        F.col(vec_col).alias("c_vec"),
        sig(F.col(vec_col)).alias("c_sig"),
        _quantized_norm(F.col(vec_col)).alias("c_nq"),
    )
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        sig(F.col(vec_col)).alias("q_sig"),
        _quantized_norm(F.col(vec_col)).alias("q_nq"),
    )
    score = quantized_cosine(F.col("q_vec"), F.col("c_vec"), F.col("q_nq"), F.col("c_nq"))
    # probe buckets: the query signature and its Hamming-1 neighbors
    probes = [F.col("q_sig")]
    if multiprobe_hamming >= 1:
        probes += [F.col("q_sig").bitwiseXOR(F.lit(1 << b)) for b in range(n_planes)]
    q_probed = q.select("query_id", "q_vec", "q_nq", F.explode(F.array(*probes)).alias("probe_sig"))

    scored = (
        c.join(F.broadcast(q_probed), (F.col("c_sig") == F.col("probe_sig")) & (F.col("cand_id") != F.col("query_id")))
        .select("query_id", "cand_id", score.alias("cosine"))
        .distinct()
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), "cand_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "cand_id", "cosine", "rank")
    )


def sql_lsh_topk(
    k: int = 5,
    n_planes: int = 8,
    dim: int = 64,
    corpus_table: str = "embeddings",
    query_table: str = "(SELECT * FROM embeddings WHERE vec_id % 100 = 0) qt",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """DuckDB twin of :func:`lsh_bucket_topk` with Hamming-1 multi-probe
    — built on the shared quantized-LSH CTE builders (the drift rule):
    the packed ``n_planes``-bit signature is
    one band of :func:`_sql_band_buckets` (band_bits = n_planes), probe
    buckets are the signature plus its ``n_planes`` single-bit XOR
    flips, candidates dedupe across probes, the rescore is the
    integer-cosine FLOOR form, and the per-query rank is a PARTITIONED
    ROW_NUMBER with the candidate id as tiebreaker."""
    planes_q = _quantized_planes(n_planes, dim)
    vals = _sql_planes_values(planes_q)
    cdims = _sql_quantized_dims(corpus_table, "cid", id_col, vec_col)
    qdims = _sql_quantized_dims(query_table, "qid", id_col, vec_col)
    cbuck = _sql_band_buckets("cdims", "cid", n_planes)
    qbuck = _sql_band_buckets("qdims", "qid", n_planes)
    return f"""
    WITH planes AS (
        SELECT plane, generate_subscripts(pv, 1) - 1 AS pos, unnest(pv) AS pq
        FROM (VALUES {vals}) pl(plane, pv)
    ),
    cdims AS {cdims},
    qdims AS {qdims},
    cbuck AS {cbuck},
    qbuck AS {qbuck},
    probes AS (
        SELECT qid, bucket FROM qbuck
        UNION ALL
        SELECT qid, xor(bucket, CAST(1 AS INTEGER) << b) AS bucket
        FROM qbuck, (SELECT unnest(generate_series(0, {n_planes - 1})) AS b)
    ),
    cand AS (
        SELECT DISTINCT p.qid, c.cid
        FROM probes p JOIN cbuck c ON c.bucket = p.bucket
        WHERE c.cid <> p.qid
    ),
    cnrm AS (SELECT cid, CAST(SUM(xq * xq) AS BIGINT) AS nq FROM cdims GROUP BY cid),
    qnrm AS (SELECT qid, CAST(SUM(xq * xq) AS BIGINT) AS nq FROM qdims GROUP BY qid),
    dots AS (
        SELECT cand.qid, cand.cid, CAST(SUM(a.xq * b.xq) AS BIGINT) AS dotq
        FROM cand
        JOIN qdims a ON a.qid = cand.qid
        JOIN cdims b ON b.cid = cand.cid AND b.pos = a.pos
        GROUP BY cand.qid, cand.cid
    ),
    scored AS (
        SELECT d.qid, d.cid,
               CASE WHEN qn.nq > 0 AND cn.nq > 0
                    THEN FLOOR(CAST(d.dotq AS DOUBLE)
                               / sqrt(CAST(qn.nq AS DOUBLE) * CAST(cn.nq AS DOUBLE))
                               * 1e6 + 0.5) / 1e6
                    ELSE 0.0 END AS cosine
        FROM dots d
        JOIN qnrm qn ON qn.qid = d.qid
        JOIN cnrm cn ON cn.cid = d.cid
    ),
    ranked AS (
        SELECT qid, cid, cosine,
               ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, cid) AS rank
        FROM scored
    )
    SELECT qid AS query_id, cid AS cand_id, cosine, CAST(rank AS INT) AS rank
    FROM ranked WHERE rank <= {k}
    ORDER BY query_id, rank
    """


def embedding_near_dup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.95,
    n_planes: int = 64,
    n_bands: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket: int = 4096,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: BANDED hyperplane-signature
    blocking (SimHash-style — a pair is a candidate if ANY band of the
    signature matches exactly), then exact cosine verification, so every
    emitted pair is a true positive.

    Band buckets come from the scale-6 integer planes
    (:func:`quantized_band_buckets_udf`) and the verify cosine is
    :func:`quantized_cosine`, so the whole banding → cap → pair → verify
    pipeline replays in DuckDB (:func:`sql_embedding_near_dup_pairs`).

    Scale design (vs the earlier single-12-bit-bucket form, which capped
    the bucket space at 4096 and collect_list'ed (id, VECTOR) structs —
    bucket payload grew linearly with corpus size):

    * Buckets hold bare ids only; vectors are re-attached by two id
      equi-joins on the (distinct, near-linear) candidate pairs, so no
      aggregation buffer ever carries vector payloads.
    * Band granularity bounds RANDOM-pair candidate volume: uncorrelated
      vectors collide on a b-bit band with prob 2^-b, so expected noise
      candidates ≈ bands × N²/2^(b+1). The 4×16-bit default keeps that
      ~N²/32k (a few hundred verify calls at N=5k; an 8×8-bit layout
      measured ~N²/32 — 780k interpreted cosine folds at sf0.1).
      Near-IDENTICAL vectors (bit-flip p ≲ 0.02) still match a band with
      prob ≥ (1-p)^16 ≈ 0.72 each, ≥ 0.98 across 4 bands. Recall decays
      toward the 0.95 threshold boundary (~0.5 for a pair at exactly
      0.95) — the documented LSH trade; drop ``band width`` or verify
      with a second rotated plane set when boundary recall matters more
      than candidate volume. Growing the corpus 100×: +7 bits per band
      (2^bits buckets per band) and add bands to hold recall.
    * ``max_bucket`` drops degenerate buckets (e.g. a zero-vector
      cluster) instead of letting one quadratic explode straggle/OOM a
      task; cost is recall inside the dropped bucket only, and legit
      buckets at a sane tuning sit orders of magnitude below the cap.
    """
    # Materialize the shared vector table ONCE (same discipline as
    # minhash_lsh_pairs): `vecs` feeds the bucket UDF scan AND both
    # exact-verification joins (3 consumers) — without the persist the
    # embeddings scan + _spread re-run per consumer and the pandas-UDF
    # bucket subtree is re-planned under the candidate joins (this was
    # the slowest, highest-variance suite entry: 3.3→15.5→2.6 s across
    # runs at sf0.1). `bands` has one consumer (the bucket aggregate) so
    # it is deliberately NOT persisted.
    # MEMORY_AND_DISK: one row per vector, linear in corpus, spillable.
    # CACHE LIFETIME IS CALLER-OWNED — wrap in pipeline.cache_scope.
    from pyspark.storagelevel import StorageLevel

    vecs = (
        _spread_v(embeddings)
        .select(
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("vec"),
            _quantized_norm(F.col(vec_col)).alias("nq"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    _pin(vecs)  # pin before the band/verify branches fan out (cache-race rule)
    buckets_udf = quantized_band_buckets_udf(_quantized_planes(n_planes, dim), n_bands)
    bands = vecs.select("id", F.posexplode(buckets_udf(F.col("vec"))).alias("band", "bucket"))

    # One shuffle does pair-dedup AND verify-stage spreading: an explicit
    # hash repartition on the pair key satisfies dropDuplicates'
    # clustering requirement (no second exchange), and the fixed
    # partition count keeps AQE from coalescing the few-MB pair set to
    # ~1 partition and serializing the exact cosine verification (the
    # earlier `.distinct()` + `_spread_v(cand)` form paid an extra shuffle
    # + stage for the same result).
    p = embeddings.sparkSession.sparkContext.defaultParallelism
    cand = (
        _spread_v(
            bands.groupBy("band", "bucket")
            .agg(F.sort_array(F.collect_list("id")).alias("ids"))
            .filter((F.size("ids") > 1) & (F.size("ids") <= max_bucket))
        )
        .select(F.explode(_in_bucket_pairs(F.col("ids"))).alias("p"))
        .select(F.col("p.id_a"), F.col("p.id_b"))
        .repartition(p, "id_a", "id_b")
        .dropDuplicates()
    )
    a = vecs.select(F.col("id").alias("id_a"), F.col("vec").alias("vec_a"), F.col("nq").alias("na"))
    b = vecs.select(F.col("id").alias("id_b"), F.col("vec").alias("vec_b"), F.col("nq").alias("nb"))
    score = quantized_cosine(F.col("vec_a"), F.col("vec_b"), F.col("na"), F.col("nb"))
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .select("id_a", "id_b", score.alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def sql_embedding_near_dup_pairs(
    threshold: float = 0.95,
    n_planes: int = 64,
    n_bands: int = 4,
    dim: int = 64,
    max_bucket: int = 4096,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """DuckDB twin of :func:`embedding_near_dup_pairs` — the shared
    quantized-LSH CTE builders replay banding (band_bits-wide buckets),
    the 2..max_bucket bucket window,
    upper-triangle in-bucket pairs deduped across bands, and the
    integer-cosine FLOOR verify with the threshold as a
    CAST-double literal."""
    band_bits = n_planes // n_bands
    planes_q = _quantized_planes(n_planes, dim)
    vals = _sql_planes_values(planes_q)
    dims = _sql_quantized_dims(table, "id", id_col, vec_col)
    bucks = _sql_band_buckets("dims", "id", band_bits)
    return f"""
    WITH planes AS (
        SELECT plane, generate_subscripts(pv, 1) - 1 AS pos, unnest(pv) AS pq
        FROM (VALUES {vals}) pl(plane, pv)
    ),
    dims AS {dims},
    buck AS {bucks},
    ok AS (
        SELECT band, bucket FROM buck GROUP BY band, bucket
        HAVING COUNT(*) >= 2 AND COUNT(*) <= {max_bucket}
    ),
    cand AS (
        SELECT DISTINCT a.id AS id_a, b.id AS id_b
        FROM buck a
        JOIN ok ON ok.band = a.band AND ok.bucket = a.bucket
        JOIN buck b ON b.band = a.band AND b.bucket = a.bucket AND b.id > a.id
    ),
    nrm AS (SELECT id, CAST(SUM(xq * xq) AS BIGINT) AS nq FROM dims GROUP BY id),
    dots AS (
        SELECT cand.id_a, cand.id_b, CAST(SUM(a.xq * b.xq) AS BIGINT) AS dotq
        FROM cand
        JOIN dims a ON a.id = cand.id_a
        JOIN dims b ON b.id = cand.id_b AND b.pos = a.pos
        GROUP BY cand.id_a, cand.id_b
    )
    SELECT * FROM (
        SELECT d.id_a, d.id_b,
               CASE WHEN na.nq > 0 AND nb.nq > 0
                    THEN FLOOR(CAST(d.dotq AS DOUBLE)
                               / sqrt(CAST(na.nq AS DOUBLE) * CAST(nb.nq AS DOUBLE))
                               * 1e6 + 0.5) / 1e6
                    ELSE 0.0 END AS cosine
        FROM dots d
        JOIN nrm na ON na.id = d.id_a
        JOIN nrm nb ON nb.id = d.id_b
    )
    WHERE cosine >= CAST({threshold!r} AS DOUBLE)
    ORDER BY id_a, id_b
    """


def semantic_contamination_banded(
    corpus: DataFrame,
    bench: DataFrame,
    threshold: float = 0.9,
    n_planes: int = 64,
    n_bands: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bench_id_col: str = "vec_id",
    max_bucket: int = 4096,
) -> DataFrame:
    """The CORPUS-SIZED-bench decontamination path the exact screen's
    ``max_bench`` guard points at: banded hyperplane-signature blocking
    (the :func:`embedding_near_dup_pairs` machinery) restricted to
    CROSS (corpus × bench) candidates, exact cosine verification, one
    verdict row per FLAGGED corpus vector — (id_col, max_cosine,
    matched_bench_id), max over the verified candidates with the
    smallest-id tiebreak on rounded scores.

    Versus :func:`semantic_contamination`: neither side broadcasts or
    collects — both sides shuffle once on (band, bucket) and candidates
    are near-linear (cross-bucket products, noise ≈ bands·|C|·|B|/2^band_bits),
    so a benchmark UNION (all eval sets together, millions of rows)
    screens a 100 TB corpus without a bounded side.  Recall is the
    banded-LSH trade (high near cosine 1, decaying toward the
    threshold — same curve as embedding_near_dup_pairs, recall-tested);
    un-flagged corpus rows are ABSENT (no spine: at corpus scale the
    flagged set is the useful, bounded output).  Oversized buckets on
    EITHER side are dropped under ``max_bucket`` (degenerate clusters;
    the no-silent-caps accounting is the per-side bucket censuses any
    caller can re-run with the same band keys).

    The WHOLE pipeline is reproducible: plane components and vector
    coordinates quantize to scale-6 integers (:func:`_quantized_planes`,
    the kmeans precedent), so every sign decision is exact int64
    arithmetic, band keys match a DuckDB twin bit-for-bit, and the
    verify cosine is the semantic-dedup integer form
    FLOOR(dotq/√(na·nb)·1e6+0.5)/1e6 — :func:`sql_contamination_banded`
    emits the identical computation.

    Both vector tables persist (each feeds its bucket scan AND the
    exact-verify join).  Cache lifetime is CALLER-OWNED — wrap the call
    in ``pipeline.cache_scope(spark)`` to release the blocks on exit
    (the library-wide convention; long-lived sessions and foreachBatch
    reuse leak otherwise — round-11 verdict nit)."""
    from pyspark.storagelevel import StorageLevel

    buckets_udf = quantized_band_buckets_udf(_quantized_planes(n_planes, dim), n_bands)

    def _side(df, idc, out):
        v = (
            _spread_v(df)
            .select(
                F.col(idc).alias(out),
                F.col(vec_col).alias(f"vec_{out}"),
                _quantized_norm(F.col(vec_col)).alias(f"nq_{out}"),
            )
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        b = v.select(out, F.posexplode(buckets_udf(F.col(f"vec_{out}"))).alias("band", "bucket"))
        # the band table feeds TWO consumers (the degenerate-bucket
        # aggregate and the semi-join's probe side) — persist it or the
        # Arrow-batched bucket UDF pays a second full pass over this side
        # (round-14, the semantic-survivors alignment)
        b = b.persist(StorageLevel.MEMORY_AND_DISK)
        # drop degenerate buckets on this side (bounded aggregate state)
        ok = (
            b.groupBy("band", "bucket")
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") <= max_bucket)
            .select("band", "bucket")
        )
        return v, b.join(ok, ["band", "bucket"], "left_semi")

    vc, bc = _side(corpus, id_col, "cid")
    vb, bb = _side(bench, bench_id_col, "bid")
    p = corpus.sparkSession.sparkContext.defaultParallelism
    cand = (
        bc.join(bb, ["band", "bucket"])
        .select("cid", "bid")
        .repartition(p, "cid", "bid")
        .dropDuplicates()
    )
    score = quantized_cosine(F.col("vec_cid"), F.col("vec_bid"), F.col("nq_cid"), F.col("nq_bid"))
    hits = (
        cand.join(vc, "cid")
        .join(vb, "bid")
        .select("cid", "bid", score.alias("cos"))
        .filter(F.col("cos") >= F.lit(float(threshold)))
    )
    return (
        hits.groupBy("cid")
        .agg(F.max(F.struct(F.col("cos"), (-F.col("bid")).cast("long").alias("nbid"))).alias("m"))
        .select(
            F.col("cid").alias(id_col),
            F.col("m.cos").alias("max_cosine"),
            (-F.col("m.nbid")).cast("bigint").alias("matched_bench_id"),
        )
    )


def sql_contamination_banded(
    threshold: float = 0.9,
    n_planes: int = 64,
    n_bands: int = 4,
    dim: int = 64,
    max_bucket: int = 4096,
    corpus_table: str = "embeddings",
    bench_table: str = "(SELECT * FROM embeddings WHERE vec_id % 37 = 0) bt",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """DuckDB twin of :func:`semantic_contamination_banded` — replays
    the ENTIRE pipeline in exact integer arithmetic: the scale-6 plane
    literals (:func:`_quantized_planes`,
    emitted as VALUES rows), per-(id, plane) sign bits from integer
    dots, per-band little-endian bucket packing, the per-SIDE
    ``max_bucket`` cap, the cross-set bucket join, and the
    semantic-dedup integer cosine FLOOR(dotq/√(na·nb)·1e6+0.5)/1e6 with
    the max-cos / smallest-bench-id verdict.  Derived bench inputs ride
    the parenthesized-aliased-subquery convention (the HDR precedent).

    The twin's bucket join is near-linear like the Spark side's (band
    keys bound collisions), but the bit computation is |rows|×n_planes
    ×dim — fine at driver tiers, never a Spark-side shape."""
    band_bits = n_planes // n_bands
    planes_q = _quantized_planes(n_planes, dim)
    vals = _sql_planes_values(planes_q)

    def _dims(src, out):
        return _sql_quantized_dims(src, out, id_col, vec_col)

    def _buckets(dims, out):
        return _sql_band_buckets(dims, out, band_bits)

    return f"""
    WITH planes AS (
        SELECT plane, generate_subscripts(pv, 1) - 1 AS pos, unnest(pv) AS pq
        FROM (VALUES {vals}) pl(plane, pv)
    ),
    cdims AS {_dims(corpus_table, "cid")},
    bdims AS {_dims(bench_table, "bid")},
    cbuck AS {_buckets("cdims", "cid")},
    bbuck AS {_buckets("bdims", "bid")},
    cok AS (SELECT band, bucket FROM cbuck GROUP BY band, bucket
            HAVING COUNT(*) <= {max_bucket}),
    bok AS (SELECT band, bucket FROM bbuck GROUP BY band, bucket
            HAVING COUNT(*) <= {max_bucket}),
    cand AS (
        SELECT DISTINCT c.cid, b.bid
        FROM cbuck c
        JOIN cok USING (band, bucket)
        JOIN bbuck b ON b.band = c.band AND b.bucket = c.bucket
        JOIN bok ON bok.band = b.band AND bok.bucket = b.bucket
    ),
    cnorm AS (SELECT cid, CAST(SUM(xq * xq) AS BIGINT) AS nq FROM cdims GROUP BY cid),
    bnorm AS (SELECT bid, CAST(SUM(xq * xq) AS BIGINT) AS nq FROM bdims GROUP BY bid),
    dots AS (
        SELECT cand.cid, cand.bid, CAST(SUM(a.xq * b.xq) AS BIGINT) AS dotq
        FROM cand
        JOIN cdims a ON a.cid = cand.cid
        JOIN bdims b ON b.bid = cand.bid AND b.pos = a.pos
        GROUP BY cand.cid, cand.bid
    ),
    flt AS (
        SELECT * FROM (
            SELECT d.cid, d.bid,
                   CASE WHEN na.nq > 0 AND nb.nq > 0
                        THEN FLOOR(CAST(d.dotq AS DOUBLE)
                                   / sqrt(CAST(na.nq AS DOUBLE) * CAST(nb.nq AS DOUBLE))
                                   * 1e6 + 0.5) / 1e6
                        ELSE 0.0 END AS cos
            FROM dots d
            JOIN cnorm na ON na.cid = d.cid
            JOIN bnorm nb ON nb.bid = d.bid
        ) WHERE cos >= CAST({threshold!r} AS DOUBLE)
    ),
    best AS (SELECT cid, MAX(cos) AS max_cosine FROM flt GROUP BY cid),
    m AS (
        SELECT f.cid, MIN(f.bid) AS matched_bench_id
        FROM flt f JOIN best USING (cid)
        WHERE f.cos = best.max_cosine
        GROUP BY f.cid
    )
    SELECT best.cid AS {id_col}, best.max_cosine,
           CAST(m.matched_bench_id AS BIGINT) AS matched_bench_id
    FROM best JOIN m USING (cid)
    ORDER BY {id_col}
    """


def semantic_dedup_survivors(
    embeddings: DataFrame,
    threshold: float = 0.92,
    n_planes: int = 64,
    n_bands: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-vector KEEP/DROP semantic-dedup verdicts with LINEAR
    candidate volume — the embedding-space sibling of
    :func:`~csv_query_engine_spark.pipeline.dedup.minhash_dedup_survivors`
    (the round-11 lesson generalized: on a near-dup-dense corpus the
    PAIR face — :func:`semantic_dedup_pairs` — is quadratic by nature,
    and the scale form is a verdict table): each vector is verified
    against AT MOST ``n_bands`` candidates, the min-id member of each
    of its quantized hyperplane-LSH buckets.  Exact-verify volume is
    ≤ n_bands × vectors, bucket state is one MIN (no ``max_bucket``
    cap needed — a degenerate cluster of 10⁶ copies verifies every
    member against the cluster min and drops them all, exactly the
    case plain banded LSH must cap away).

    Output: one row per input vector — (id_col, is_dup, dup_of,
    dup_cosine); ``dup_of`` = the SMALLEST verified bucket-min with
    quantized cosine ≥ threshold (sentinels -1 / -1.0 — the
    nullable-output rule).  Semantics are ONE-PASS GREEDY, the same
    trade `minhash_dedup_survivors` documents: two near-dups sharing
    only buckets whose min is a third non-matching vector both
    survive; recall near the threshold follows the banded-LSH curve.

    Fully REPRODUCIBLE by construction (no float mode): plane
    components and coordinates quantize to scale-6 integers
    (:func:`_quantized_planes` — the round-12 banded-contamination
    recipe), every sign decision and dot is exact int64, and the
    verify cosine is FLOOR(dotq/√(na·nb)·1e6+0.5)/1e6 —
    :func:`sql_semantic_survivors` replays the pipeline end to end.

    Scale: the vector table persists once (bucket scan + two verify
    joins + the verdict spine — cache lifetime CALLER-OWNED via
    ``pipeline.cache_scope``); buckets shuffle once on (band, bucket)
    for the MIN; candidates shuffle once per attach join, each row
    carrying one ``dim``-float payload (no signature arrays — the
    est-screen stage MinHash needs has no analogue here, so the
    round-12 2M wall's shuffle-payload shape never appears)."""
    from pyspark.storagelevel import StorageLevel

    buckets_udf = quantized_band_buckets_udf(_quantized_planes(n_planes, dim), n_bands)
    v = (
        _spread_v(embeddings)
        .select(
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("vec"),
            _quantized_norm(F.col(vec_col)).alias("nq"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # the bucket table feeds TWO consumers (the MIN aggregate and the
    # candidate attach join) — persist it or the Arrow-batched bucket
    # UDF pays a second full pass over the corpus (the plan showed two
    # ArrowEvalPython nodes; the streaming route events.py already
    # persists its `be` for exactly this reason — round-14 alignment)
    b = v.select(
        "id", F.posexplode(buckets_udf(F.col("vec"))).alias("band", "bucket")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    mins = b.groupBy("band", "bucket").agg(F.min("id").alias("cand"))
    cand = (
        b.join(mins, ["band", "bucket"])
        .filter(F.col("cand") < F.col("id"))
        .select("id", "cand")
        .distinct()
    )
    score = quantized_cosine(F.col("vec_a"), F.col("vec_b"), F.col("na"), F.col("nb"))
    scored = (
        cand.join(v.select("id", F.col("vec").alias("vec_a"), F.col("nq").alias("na")), "id")
        .join(
            v.select(
                F.col("id").alias("cand"), F.col("vec").alias("vec_b"), F.col("nq").alias("nb")
            ),
            "cand",
        )
        .select("id", "cand", score.alias("cos"))
    )
    # Deterministic verdict (the minhash_dedup_survivors convention):
    # the smallest verified candidate wins and carries its cosine —
    # min over a (cand, cos) struct orders by cand, unique per row.
    dup = (
        scored.filter(F.col("cos") >= F.lit(float(threshold)))
        .groupBy("id")
        .agg(F.min(F.struct(F.col("cand"), F.col("cos"))).alias("m"))
        .select("id", F.col("m.cand").alias("dup_of"), F.col("m.cos").alias("dup_cosine"))
    )
    return (
        v.select("id")
        .join(dup, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.col("dup_of").isNotNull().alias("is_dup"),
            F.coalesce(F.col("dup_of"), F.lit(-1)).cast("bigint").alias("dup_of"),
            F.coalesce(F.col("dup_cosine"), F.lit(-1.0)).alias("dup_cosine"),
        )
    )


def _sql_semantic_survivor_ctes(
    threshold: float,
    n_planes: int,
    n_bands: int,
    dim: int,
    table: str,
    id_col: str,
    vec_col: str,
) -> str:
    """The WITH-body CTE prefix (planes → dims → buckets → bucket MINs
    → candidates → integer-cosine verify → `dup` verdicts) shared by
    :func:`sql_semantic_survivors` and
    :func:`sql_semantic_survivor_clusters` — the `_MINHASH_REP_CTES`
    drift rule: variants append to THIS builder, never copy the CTE
    text."""
    band_bits = n_planes // n_bands
    planes_q = _quantized_planes(n_planes, dim)
    vals = _sql_planes_values(planes_q)
    dims = _sql_quantized_dims(table, "id", id_col, vec_col)
    bucks = _sql_band_buckets("dims", "id", band_bits)
    return f"""
    WITH planes AS (
        SELECT plane, generate_subscripts(pv, 1) - 1 AS pos, unnest(pv) AS pq
        FROM (VALUES {vals}) pl(plane, pv)
    ),
    dims AS {dims},
    buck AS {bucks},
    mins AS (SELECT band, bucket, MIN(id) AS cand FROM buck GROUP BY band, bucket),
    cand AS (
        SELECT DISTINCT b.id, m.cand
        FROM buck b JOIN mins m USING (band, bucket)
        WHERE m.cand < b.id
    ),
    nrm AS (SELECT id, CAST(SUM(xq * xq) AS BIGINT) AS nq FROM dims GROUP BY id),
    dots AS (
        SELECT cand.id, cand.cand, CAST(SUM(a.xq * b.xq) AS BIGINT) AS dotq
        FROM cand
        JOIN dims a ON a.id = cand.id
        JOIN dims b ON b.id = cand.cand AND b.pos = a.pos
        GROUP BY cand.id, cand.cand
    ),
    scored AS (
        SELECT d.id, d.cand,
               CASE WHEN na.nq > 0 AND nb.nq > 0
                    THEN FLOOR(CAST(d.dotq AS DOUBLE)
                               / sqrt(CAST(na.nq AS DOUBLE) * CAST(nb.nq AS DOUBLE))
                               * 1e6 + 0.5) / 1e6
                    ELSE 0.0 END AS cos
        FROM dots d
        JOIN nrm na ON na.id = d.id
        JOIN nrm nb ON nb.id = d.cand
    ),
    dup AS (
        SELECT id, MIN(cand) AS dup_of
        FROM scored WHERE cos >= CAST({threshold!r} AS DOUBLE)
        GROUP BY id
    )"""


def sql_semantic_survivors(
    threshold: float = 0.92,
    n_planes: int = 64,
    n_bands: int = 8,
    dim: int = 64,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """DuckDB twin of :func:`semantic_dedup_survivors` — replays the
    whole verdict pipeline in exact integer arithmetic on the shared
    CTE builders (:func:`_sql_planes_values` /
    :func:`_sql_quantized_dims` / :func:`_sql_band_buckets` /
    :func:`_sql_semantic_survivor_ctes` — the drift rule): quantized
    plane literals, per-band bucket ids, bucket MINs, the < id
    candidate filter, integer-cosine verify with the FLOOR idiom, and
    the smallest-matching-candidate verdict with -1/-1.0 sentinels.
    The threshold rides the decimal-literal rule (Python repr CAST AS
    DOUBLE)."""
    ctes = _sql_semantic_survivor_ctes(
        threshold, n_planes, n_bands, dim, table, id_col, vec_col
    )
    return f"""{ctes}
    SELECT {id_col},
           d.dup_of IS NOT NULL AS is_dup,
           CAST(COALESCE(d.dup_of, -1) AS BIGINT) AS dup_of,
           COALESCE(s.cos, -1.0) AS dup_cosine
    FROM {table}
    LEFT JOIN dup d ON d.id = {id_col}
    LEFT JOIN scored s ON s.id = d.id AND s.cand = d.dup_of
    ORDER BY {id_col}
    """


def sql_semantic_survivor_clusters(
    threshold: float = 0.92,
    n_planes: int = 64,
    n_bands: int = 8,
    dim: int = 64,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """DuckDB twin of ``survivor_clusters(semantic_dedup_survivors(...),
    id_col=...)`` — the greedy ``dup_of`` pointer forest resolved to
    root survivors with a RECURSIVE CTE over the SHARED survivor CTE
    prefix (WITH → WITH RECURSIVE swap on the builder output, the
    minhash-clusters precedent; dup_of is strictly decreasing so the
    recursion terminates)."""
    ctes = _sql_semantic_survivor_ctes(
        threshold, n_planes, n_bands, dim, table, id_col, vec_col
    ).replace("WITH planes", "WITH RECURSIVE planes", 1)
    return f"""{ctes},
    chase AS (
        SELECT id, dup_of AS ptr FROM dup
        UNION ALL
        SELECT c.id, v.dup_of FROM chase c JOIN dup v ON v.id = c.ptr
    ),
    roots AS (
        SELECT c.id, c.ptr AS root
        FROM chase c
        LEFT JOIN dup v ON v.id = c.ptr
        WHERE v.id IS NULL
    )
    SELECT {id_col},
           r.root IS NOT NULL AS is_dup,
           CAST(COALESCE(r.root, {id_col}) AS BIGINT) AS cluster_root
    FROM {table}
    LEFT JOIN roots r ON r.id = {id_col}
    ORDER BY {id_col}
    """


# ------------------------------------------------------------------- IVF


def _centroid_seeds(embeddings: DataFrame, n_centroids: int, id_col: str, vec_col: str) -> list[list[float]]:
    """Deterministic centroid seeds: the n vectors with the smallest
    xxhash64(id) — an order-free pseudo-random sample. The collect is
    bounded by n_centroids × dim floats (the one legitimately
    driver-sized object in IVF; the index itself never leaves the
    cluster)."""
    rows = (
        embeddings.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
        .orderBy(F.xxhash64("id"), "id")
        .limit(n_centroids)
        .collect()
    )
    return [[float(x) for x in r["vec"]] for r in rows]


def _probe_udf(centroids: list[list[float]], nprobe: int):
    """Arrow-batched pandas UDF: the ``nprobe`` nearest centroid ids per
    vector, as one numpy matmul per batch.

    Python is justified here — and measurably necessary: expressing the
    C-way argmax with literal centroid arrays builds an expression tree
    of C×dim literal nodes (thousands of py4j calls to CONSTRUCT the
    plan) evaluated through interpreted higher-order functions; the UDF
    ships the centroid matrix once in the closure and scores a whole
    Arrow batch with BLAS. Cosine order == dot order against unit-
    normalized centroids (the row norm is constant across centroids),
    so centroids are L2-normalized once, driver-side."""
    import numpy as np

    cents = np.asarray(centroids, dtype=np.float64)
    norms = np.linalg.norm(cents, axis=1)
    norms[norms == 0.0] = 1.0
    unit = (cents / norms[:, None]).T  # dim × C

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def probe(col):
        import numpy as _np
        import pandas as _pd

        if len(col) == 0:
            return _pd.Series([], dtype=object)
        m = _np.stack([_np.asarray(v, dtype=_np.float64) for v in col])
        scores = m @ unit  # B × C
        # stable argsort -> ties resolve to the lowest cid, deterministic
        idx = _np.argsort(-scores, kind="stable", axis=1)[:, :nprobe]
        return _pd.Series([row.astype("int32").tolist() for row in idx])

    return probe


def _refine_centroids(
    embeddings: DataFrame, seeds: list[list[float]], id_col: str, vec_col: str
) -> list[list[float]]:
    """One Lloyd iteration, distributed: assign every vector to its
    nearest seed, then per-(centroid, dimension) means via posexplode.
    Shuffle volume: |N|×dim scalar rows keyed by (cid, pos) with
    partial aggregation — linear, no driver involvement until the
    C×dim result."""
    assign = _probe_udf(seeds, 1)
    assigned = embeddings.select(
        F.col(vec_col).alias("vec"),
        assign(F.col(vec_col))[0].alias("cid"),
    )
    dims = assigned.select("cid", F.posexplode("vec").alias("pos", "x"))
    means = dims.groupBy("cid", "pos").agg(F.avg("x").alias("m")).collect()
    out = [list(s) for s in seeds]  # keep seed when a cluster is empty
    acc: dict[int, dict[int, float]] = {}
    for r in means:
        acc.setdefault(r["cid"], {})[r["pos"]] = float(r["m"])
    for cid, d in acc.items():
        out[cid] = [d[p] for p in sorted(d)]
    return out


def ivf_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 32,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: corpus vectors are
    partitioned into Voronoi cells around learned centroids; each query
    probes only its ``nprobe`` nearest cells and rescored exactly inside
    them.

    Scale: the trained index is an extra int column (cell id) on the
    corpus — at 100 TB, write the corpus parquet partitioned/bucketed by
    cell id and a query touches only nprobe/n_centroids of the data
    (partition pruning does the candidate restriction for free). Here
    the cell restriction is an equi-join on cid: one shuffle-free
    broadcast of (query, probed-cell) pairs against cell-keyed corpus
    rows. vs LSH buckets: IVF adapts to the data distribution (learned
    centroids) where hyperplane LSH is data-oblivious.
    """
    seeds = _centroid_seeds(embeddings, n_centroids, id_col, vec_col)
    cents = _refine_centroids(_spread_v(embeddings), seeds, id_col, vec_col)

    assign = _probe_udf(cents, 1)
    multi = _probe_udf(cents, nprobe)
    c = _spread_v(embeddings).select(
        F.col(id_col).alias("cand_id"),
        F.col(vec_col).alias("c_vec"),
        assign(F.col(vec_col))[0].alias("cid"),
    )
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        F.explode(multi(F.col(vec_col))).alias("cid"),
    )
    scored = (
        c.join(F.broadcast(q), ["cid"])
        .filter(F.col("cand_id") != F.col("query_id"))
        .select("query_id", "cand_id", cosine(F.col("q_vec"), F.col("c_vec")).alias("cosine"))
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), "cand_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "cand_id", "cosine", "rank")
    )


def label_centroids(
    df: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
    scale: int = 6,
) -> DataFrame:
    """Per-label elementwise mean vector in long form — one row per
    (label, dim) with the centroid component.  The distributed vector
    aggregate behind IVF/k-means training steps and per-cluster drift
    stats, expressed with posexplode + groupBy: no UDF, no driver
    collect (ivf_topk's Lloyd step keeps its own collect because it
    must broadcast the result back; this is the query-surface form).

    Components are summed as fixed-point longs quantized with the pure
    IEEE-double expression ``floor(v·10^scale + 0.5)`` — NOT a decimal
    cast: decimal rounding of a float32 disagrees between engines on
    ~0.4% of elements (measured; Spark rounds the shortest decimal
    repr HALF_UP, DuckDB's FLOAT→DECIMAL path ties differently), while
    multiply/add/floor in double is bit-identical everywhere.  Same
    envelope argument as queries/relational.exact_sum: |sum| < 9.2e12
    at scale 6 — unit-norm float32 components keep per-(label,dim)
    sums ≤ |group|, safe past 10^12 rows per label.

    Scale: the explode is linear (N×dim rows of three small numeric
    columns — the vector itself never shuffles as an array); one
    shuffle on (label, dim) with map-side partial aggregation; output
    is |labels|×dim rows.
    """
    v = F.col("_v").cast("double")
    unscaled = F.floor(v * F.lit(float(10**scale)) + F.lit(0.5)).cast("long")
    return (
        _spread_v(df.select(F.col(label_col).alias("label"), F.col(vec_col).alias("_vec")))
        .select("label", F.posexplode("_vec").alias("dim", "_v"))
        .groupBy("label", "dim")
        .agg(
            (F.sum(unscaled).cast("double") / F.lit(float(10**scale)) / F.count(v)).alias("centroid"),
            F.count(v).alias("n_vecs"),
        )
        .select("label", F.col("dim").cast("int").alias("dim"), "centroid", F.col("n_vecs").cast("long").alias("n_vecs"))
    )


def quantized_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    oversample: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    rounding: int | None = None,
    max_queries: int = 100_000,
) -> DataFrame:
    """Approximate top-k via symmetric int8 scalar quantization (the
    SQ8 memory/bandwidth scale path, FAISS-flat-SQ style) with exact
    float rescoring of the oversampled shortlist.

    Per-vector quantization q = round(127·x/max|x|) keeps cosine
    SCALE-FREE: the per-vector scales cancel, so the approximate score
    is intdot(qa,qb)/(‖qa‖·‖qb‖) — one int8→int32 matmul per Arrow
    batch against the quantized query matrix shipped in the closure
    (Q ≪ N, the same broadcast-side argument as brute force). The top
    ``k × oversample`` candidates per query by approximate score are
    rescored with the exact float cosine; emitted ranks therefore carry
    EXACT scores and only recall (a true neighbor missing the
    shortlist) is approximate — the standard quantize-then-rescore
    contract. At 100 TB the int8 corpus is 4× smaller than float32 —
    the scan-bandwidth win this operator exists for — and composes with
    IVF pruning (quantize within each probed partition).

    Zero vectors quantize to all-zero and score 0 against everything
    (matching :func:`cosine`'s zero-vector convention).

    REPRODUCIBLE BY CONSTRUCTION (round 13 — what lets the registered
    query carry a DuckDB twin): the quantizer is the pure-IEEE half-up
    form ``floor(x·127/max|x| + 0.5)`` with pinned op order
    ``(x·127.0)/maxabs + 0.5`` (np.rint's half-to-even has no DuckDB
    equivalent), the approximate score is an EXACT-integer dot (|q|≤127
    → |dot| ≤ 64·127² ≪ 2⁵³, exact in double) over deterministic
    sqrt/multiply/divide, so shortlist membership and order are
    bit-identical across engines with no quantization needed, and
    ``rounding`` applies the FLOOR idiom (``_floor_quantize``), never
    engine ROUND, to the rescored cosine that feeds the final rank.
    """
    import numpy as np

    qrows = _bounded_query_rows(queries, [F.col(query_id_col), F.col(vec_col)], max_queries)
    if not qrows:
        # np.stack([]) raises an opaque ValueError before any Spark work;
        # an empty query set has a well-defined answer — no matches.
        spark = embeddings.sparkSession
        schema = T.StructType(
            [
                T.StructField("query_id", queries.schema[query_id_col].dataType),
                T.StructField("cand_id", embeddings.schema[id_col].dataType),
                T.StructField("cosine", T.DoubleType()),
                T.StructField("rank", T.IntegerType()),
            ]
        )
        return spark.createDataFrame([], schema)
    q_ids = [r[0] for r in qrows]
    qmat = np.stack([np.asarray(r[1], dtype=np.float64) for r in qrows])
    qmax = np.abs(qmat).max(axis=1, keepdims=True)
    qmax[qmax == 0.0] = 1.0
    # half-up floor with the pinned op order (x*127.0)/max + 0.5 — the
    # twin's floor(x * 127.0 / mx + 0.5) parses to the same three ops
    q_int = np.floor(qmat * 127.0 / qmax + 0.5).astype(np.int32)
    q_norms = np.sqrt((q_int.astype(np.int64) ** 2).sum(axis=1)).astype(np.float64)
    q_norms[q_norms == 0.0] = 1.0

    @F.pandas_udf(T.ArrayType(T.DoubleType()))
    def approx_scores(col):
        import numpy as _np
        import pandas as _pd

        if len(col) == 0:
            return _pd.Series([], dtype="object")
        m = _np.stack([_np.asarray(v, dtype=_np.float64) for v in col])
        mx = _np.abs(m).max(axis=1, keepdims=True)
        mx[mx == 0.0] = 1.0
        c_int = _np.floor(m * 127.0 / mx + 0.5).astype(_np.int32)
        c_norms = _np.sqrt((c_int.astype(_np.int64) ** 2).sum(axis=1))
        c_norms[c_norms == 0.0] = 1.0
        # int8-range matmul in int32/int64 accumulation, then normalize
        sims = (c_int @ q_int.T).astype(_np.float64) / _np.outer(c_norms, q_norms)
        return _pd.Series(list(sims))

    c = _spread_v(embeddings).select(F.col(id_col).alias("cand_id"), F.col(vec_col).alias("c_vec"))
    qid_map = F.array(*[F.lit(i) for i in q_ids])
    # Drop self-matches BEFORE the shortlist cut: each query's own vector
    # scores ~1.0 and would otherwise burn one of the k×oversample
    # shortlist slots — an undocumented recall tax at low oversample.
    scored = c.select(
        "cand_id", "c_vec", F.posexplode(approx_scores(F.col("c_vec"))).alias("q_idx", "approx")
    ).filter(F.get(qid_map, F.col("q_idx")) != F.col("cand_id"))
    w = W.partitionBy("q_idx").orderBy(F.desc("approx"), "cand_id")
    shortlist = (
        scored.withColumn("shortlist_rank", F.row_number().over(w))
        .filter(F.col("shortlist_rank") <= k * oversample)
        .select(F.get(qid_map, F.col("q_idx")).alias("query_id"), "cand_id", "c_vec")
    )
    q = queries.select(F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("q_vec"))
    score = cosine(F.col("q_vec"), F.col("c_vec"))
    if rounding is not None:
        # FLOOR idiom, never engine ROUND: the value feeds the final
        # rank ordering the DuckDB twin must reproduce (CLAUDE.md)
        score = _floor_quantize(score, rounding)
    rescored = shortlist.join(F.broadcast(q), "query_id").select(
        "query_id", "cand_id", score.alias("cosine")
    )
    w2 = W.partitionBy("query_id").orderBy(F.desc("cosine"), "cand_id")
    return (
        rescored.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select("query_id", "cand_id", "cosine", "rank")
    )


# -------------------------------------------------- product quantization


def _make_pq_refine(sd_list: list, m: int, n_codes: int, d_sub: int):
    """Worker closure factory (round-8 invariant: module-level _make_*
    ships by value): ONE mapInArrow pass that assigns every vector its
    m subspace codes and accumulates per-(subspace, code, pos) float
    sums + counts, yielding one m·n_codes·d_sub-row partial batch per
    task. Replaces the round-13 form (pandas-UDF assign + posexplode to
    n·dim rows + groupBy avg) — guide §2.3 'aggregate before you
    shuffle': the shuffle now carries tasks·m·n_codes·d_sub partial
    rows instead of n·dim exploded coordinate rows."""

    def _refine(it):
        import numpy as np
        import pyarrow as pa

        sd = np.asarray(sd_list, dtype=np.float64)  # (m, n_codes, d_sub)
        sdn = (sd**2).sum(axis=2)
        su = np.zeros((m, n_codes, d_sub), dtype=np.float64)
        cnt = np.zeros((m, n_codes), dtype=np.int64)
        for batch in it:
            col = batch.column(0)
            n = len(col)
            if n == 0:
                continue
            x = (
                col.flatten()
                .to_numpy(zero_copy_only=False)
                .astype(np.float64)
                .reshape(n, m, d_sub)
            )
            for j in range(m):
                d2 = -2.0 * (x[:, j, :] @ sd[j].T) + sdn[j]
                c = d2.argmin(axis=1)
                np.add.at(su[j], c, x[:, j, :])
                cnt[j] += np.bincount(c, minlength=n_codes)
        yield pa.RecordBatch.from_pydict(
            {
                "j": np.repeat(np.arange(m, dtype=np.int32), n_codes * d_sub),
                "c": np.tile(np.repeat(np.arange(n_codes, dtype=np.int32), d_sub), m),
                "pos": np.tile(np.arange(d_sub, dtype=np.int32), m * n_codes),
                "su": su.reshape(-1),
                "cnt": np.repeat(cnt.reshape(-1), d_sub),
            }
        )

    return _refine


def _pq_codebooks(
    embeddings: DataFrame,
    m: int,
    n_codes: int,
    dim: int,
    id_col: str,
    vec_col: str,
) -> list[list[list[float]]]:
    """Per-subspace codebooks: deterministic smallest-hash seeds + ONE
    distributed Lloyd refinement covering ALL m subspaces in a single
    job — a per-subspace loop costs m seed collects + m refine jobs,
    and at small-SF the ~2m driver round-trips dominated the whole
    operator (measured 8.9 s warm; single-pass form ~2 s). One seed
    collect slices every subspace's seeds from the same n_codes rows;
    one mapInArrow pass assigns all m codes per vector AND accumulates
    per-(subspace, code, pos) partial sums in-task (round 15 — the
    k-means _make_km_stats shape; previously a pandas-UDF assign +
    n·dim-row posexplode + groupBy avg paid a coordinate-level
    shuffle), so the merge aggregate sees tasks·m·n_codes·d_sub rows.
    Driver holds m × n_codes × dim/m floats — the PQ index's entire
    driver footprint."""
    import numpy as np

    d_sub = dim // m
    rows = (
        embeddings.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
        .orderBy(F.xxhash64("id"), "id")
        .limit(n_codes)
        .collect()
    )
    seed_mat = np.stack([np.asarray(r["vec"], dtype=np.float64) for r in rows])
    seeds = seed_mat.reshape(len(rows), m, d_sub).transpose(1, 0, 2)  # (m, n, d_sub)

    sd_list = [[list(map(float, c)) for c in seeds[j]] for j in range(m)]
    partials = (
        _spread_v(embeddings)
        .select(F.col(vec_col).alias("vec"))
        .mapInArrow(
            _make_pq_refine(sd_list, m, n_codes, d_sub),
            "j int, c int, pos int, su double, cnt long",
        )
        .groupBy("j", "c", "pos")
        .agg(F.sum("su").alias("su"), F.sum("cnt").alias("cnt"))
        .collect()
    )
    books = seeds.copy()  # empty clusters keep their seed
    for r in partials:
        if r["cnt"]:
            books[r["j"], r["c"], r["pos"]] = float(r["su"]) / float(r["cnt"])
    return [[list(map(float, c)) for c in books[j]] for j in range(m)]


def _make_pq_adc(
    cb_list: list,
    lut_flat: list,
    q_ids: list,
    q_norms: list,
    m: int,
    d_sub: int,
    shortlist_n: int,
):
    """Worker closure factory for the ADC scoring pass: per Arrow batch,
    encode candidates to their m codes, score ALL queries via the LUT
    (identical arithmetic to the round-13 form), and fold into per-query
    running top-``shortlist_n`` lists ordered by (approx DESC, cand_id)
    — numpy lexsort, the exact window comparator — emitting one bounded
    batch per task. Self-pairs (cand_id == query id) are excluded before
    the fold, matching the old post-explode filter. Candidate ids must
    be integral (the repo-wide vec_id contract)."""

    def _adc(it):
        import numpy as np
        import pyarrow as pa

        cb = np.asarray(cb_list, dtype=np.float64)  # (m, n_codes, d_sub)
        cbn = (cb**2).sum(axis=2)
        Q = len(q_ids)
        lut = np.asarray(lut_flat, dtype=np.float64).reshape(Q, m, -1)
        qn = np.asarray(q_norms, dtype=np.float64)
        qid = np.asarray(q_ids, dtype=np.int64)
        run_s = [np.empty(0, dtype=np.float64) for _ in range(Q)]
        run_i = [np.empty(0, dtype=np.int64) for _ in range(Q)]
        for batch in it:
            ids = batch.column(0).to_numpy(zero_copy_only=False).astype(np.int64)
            col = batch.column(1)
            n = len(ids)
            if n == 0:
                continue
            x = (
                col.flatten()
                .to_numpy(zero_copy_only=False)
                .astype(np.float64)
                .reshape(n, m, d_sub)
            )
            codes = np.empty((n, m), dtype=np.int64)
            recon2 = np.zeros(n, dtype=np.float64)
            for j in range(m):
                # ||sub - c||^2 = ||sub||^2 - 2 sub·c + ||c||^2; ||sub||^2
                # is constant per row for the argmin
                d2 = -2.0 * (x[:, j, :] @ cb[j].T) + cbn[j]
                codes[:, j] = d2.argmin(axis=1)
                recon2 += cbn[j][codes[:, j]]
            recon = np.sqrt(recon2)
            recon[recon == 0.0] = 1.0
            sims = np.zeros((n, Q), dtype=np.float64)
            for j in range(m):
                sims += lut[:, j, codes[:, j]].T  # (Q, n).T
            sims /= np.outer(recon, qn)
            for qi in range(Q):
                mask = ids != qid[qi]
                s2 = np.concatenate([run_s[qi], sims[mask, qi]])
                i2 = np.concatenate([run_i[qi], ids[mask]])
                order = np.lexsort((i2, -s2))[:shortlist_n]
                run_s[qi] = s2[order]
                run_i[qi] = i2[order]
        yield pa.RecordBatch.from_pydict(
            {
                "q_idx": np.concatenate(
                    [np.full(len(run_i[qi]), qi, dtype=np.int32) for qi in range(Q)]
                ),
                "cand_id": np.concatenate(run_i),
                "approx": np.concatenate(run_s),
            }
        )

    return _adc


def pq_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m: int = 4,
    n_codes: int = 16,
    oversample: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    max_queries: int = 100_000,
) -> DataFrame:
    """Approximate top-k via PRODUCT QUANTIZATION with asymmetric
    distance computation (Jégou, Douze & Schmid, PAMI 2011 — the
    FAISS-PQ scale path) + exact rescoring of the oversampled
    shortlist: the fourth ANN family member next to brute force,
    hyperplane LSH, and IVF, and the highest-compression one — each
    corpus vector stores as m code bytes (64-float vectors compress
    512 B → 4 B at m=4).

    Per subspace j the vector slice quantizes to its nearest of
    ``n_codes`` learned centroids; a query builds an m × n_codes
    lookup table of exact sub-inner-products, and a candidate's
    approximate cosine is Σⱼ LUT[j][codeⱼ] / (‖q‖·‖x̂‖) with the
    reconstruction norm ‖x̂‖ from the per-code norm table (subspaces
    are orthogonal slices, so the squared norms add).

    Scale: codebook training is ONE seed collect + ONE mapInArrow
    refinement pass (per-task partial sums — guide §2.3); encoding +
    ADC scoring + per-query top-(k·oversample) shortlisting is ONE
    mapInArrow pass over the corpus (codebooks + query LUTs ship in
    the closure — Q ≪ N, the SQ8 contract) emitting bounded per-task
    rows, so no n·Q exploded rows and no candidate-vector payload ever
    shuffle; candidate vectors re-attach via a broadcast join of the
    bounded shortlist. Exact rescore is identical to
    :func:`quantized_topk`. Recall is governed by (m, n_codes,
    oversample) — the planted-neighbor pytest pins it."""
    import numpy as np

    qrows = _bounded_query_rows(queries, [F.col(query_id_col), F.col(vec_col)], max_queries)
    if not qrows:
        spark = embeddings.sparkSession
        schema = T.StructType(
            [
                T.StructField("query_id", queries.schema[query_id_col].dataType),
                T.StructField("cand_id", embeddings.schema[id_col].dataType),
                T.StructField("cosine", T.DoubleType()),
                T.StructField("rank", T.IntegerType()),
            ]
        )
        return spark.createDataFrame([], schema)
    # dim from the already-collected query rows (queries and corpus
    # share the embedding space by contract) — saves the round-13
    # first() probe job over the corpus
    dim = len(qrows[0][1])
    if dim % m != 0:
        raise ValueError(f"embedding dim {dim} not divisible by m={m}")
    d_sub = dim // m
    books = _pq_codebooks(embeddings, m, n_codes, dim, id_col, vec_col)
    cb = np.asarray(books, dtype=np.float64)  # (m, n_codes, d_sub)

    q_ids = [r[0] for r in qrows]
    qmat = np.stack([np.asarray(r[1], dtype=np.float64) for r in qrows])  # (Q, dim)
    q_norms = np.sqrt((qmat**2).sum(axis=1))
    q_norms[q_norms == 0.0] = 1.0
    # LUT[q, j, c] = <q_sub_j, cb[j][c]>
    qsub = qmat.reshape(len(q_ids), m, d_sub)
    lut = np.einsum("qjd,jcd->qjc", qsub, cb)

    # Per-task top-(k·oversample) shortlisting inside the Arrow kernel
    # (round 15, guide §2.3 'aggregate before you shuffle'): the
    # round-13 form exploded an (n, Q) score array to n·Q rows — each
    # CARRYING the full candidate vector — through an unbounded window
    # shuffle. The kernel now emits ≤ Q·k·oversample (q_idx, cand_id,
    # approx) rows per task; the global window ranks tasks·Q·k·os tiny
    # rows, and candidate vectors re-attach via a broadcast semi-join
    # of the bounded shortlist against the corpus (no payload shuffle).
    shortlist_n = k * oversample
    scored = (
        embeddings.select(F.col(id_col).alias("cand_id"), F.col(vec_col).alias("c_vec"))
        .mapInArrow(
            _make_pq_adc(
                [[list(map(float, c_)) for c_ in cb[j]] for j in range(m)],
                [list(map(float, r)) for r in lut.reshape(len(q_ids), -1)],
                list(q_ids),
                [float(x) for x in q_norms],
                m,
                d_sub,
                shortlist_n,
            ),
            "q_idx int, cand_id long, approx double",
        )
    )
    w = W.partitionBy("q_idx").orderBy(F.desc("approx"), "cand_id")
    qid_map = F.array(*[F.lit(i) for i in q_ids])
    shortlist = (
        scored.withColumn("shortlist_rank", F.row_number().over(w))
        .filter(F.col("shortlist_rank") <= shortlist_n)
        .select(F.get(qid_map, F.col("q_idx")).alias("query_id"), "cand_id")
    )
    cand_vecs = embeddings.select(
        F.col(id_col).alias("cand_id"), F.col(vec_col).alias("c_vec")
    ).join(F.broadcast(shortlist), "cand_id")
    q = queries.select(F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("q_vec"))
    rescored = cand_vecs.join(F.broadcast(q), "query_id").select(
        "query_id", "cand_id", cosine(F.col("q_vec"), F.col("c_vec")).alias("cosine")
    )
    w2 = W.partitionBy("query_id").orderBy(F.desc("cosine"), "cand_id")
    return (
        rescored.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select("query_id", "cand_id", "cosine", "rank")
    )


def quantize_for_storage(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """SQ8 storage form of an embedding table: per-vector scale +
    array<tinyint> codes (q = rint(127·x/max|x|)) — the ~4× smaller
    parquet the 100 TB corpus actually stores; :func:`quantized_topk`'s
    score math is exactly what runs over it.  Pure codegen'd built-ins
    (transform here is the cold storage path, not a per-query hot
    loop)."""
    scale = F.greatest(
        F.array_max(F.transform(F.col(vec_col), lambda x: F.abs(x))), F.lit(1e-30)
    ) / F.lit(127.0)
    # materialize scale BEFORE the codes transform: an inlined expression
    # re-evaluates per array element inside HOF lambdas (CLAUDE.md trap)
    staged = df.select(F.col(id_col), F.col(vec_col), scale.alias("scale"))
    return staged.select(
        F.col(id_col),
        F.col("scale"),
        F.transform(
            F.col(vec_col), lambda x: F.rint(x / F.col("scale")).cast("tinyint")
        ).alias("codes"),
    )


def dequantize(df: DataFrame, id_col: str = "vec_id") -> DataFrame:
    """Reconstruct float vectors from the SQ8 storage form (x̂ = scale·q)."""
    return df.select(
        F.col(id_col),
        F.transform(
            F.col("codes"), lambda q: q.cast("double") * F.col("scale")
        ).alias("embedding"),
    )


# --------------------------------------------------------------- k-means

def _km_quant(x: Column) -> Column:
    """Scale-6 fixed-point quantization of an embedding coordinate:
    FLOOR(x·10⁶ + 0.5) as a long. At |x| ≤ ~1 the squared-distance sum
    over 64 dims stays < 2.7e14 ≪ 2⁶³ — every distance is an exact
    INTEGER, so assignment has no float drift at all."""
    return F.floor(x.cast("double") * F.lit(1e6) + F.lit(0.5)).cast("long")


def _make_km_stats(cents_lists: list[list[int]], k: int, dim: int):
    """Worker closure factory (round-8 invariant: module-level _make_*
    so cloudpickle ships it by value): one mapInArrow pass over packed
    (v) batches that quantizes, assigns each vector to its nearest
    centroid (exact int64 distances, argmin = lowest cid on ties) and
    accumulates per-(cid, pos) coordinate sums + counts, yielding ONE
    k·dim-row partial batch per task. All arithmetic is int64 — the
    partials are partition-order independent, so the merged stats are
    bit-deterministic under any physical partitioning."""

    def _stats(it):
        import numpy as np
        import pyarrow as pa

        c = np.asarray(cents_lists, dtype=np.int64)
        su = np.zeros((k, dim), dtype=np.int64)
        cnt = np.zeros(k, dtype=np.int64)
        for batch in it:
            col = batch.column(0)
            n = len(col)
            if n == 0:
                continue
            # widen float32 storage to float64 BEFORE quantizing — the
            # engine form casts to double first (_km_quant); float32
            # (x*1e6) drifts the FLOOR boundary
            x = (
                col.flatten()
                .to_numpy(zero_copy_only=False)
                .astype(np.float64)
                .reshape(n, dim)
            )
            q = np.floor(x * 1e6 + 0.5).astype(np.int64)
            d = ((q[:, None, :] - c[None, :, :]) ** 2).sum(axis=2)
            cid = d.argmin(axis=1)
            for j in range(k):
                m = cid == j
                if m.any():
                    su[j] += q[m].sum(axis=0)
                    cnt[j] += int(m.sum())
        yield pa.RecordBatch.from_pydict(
            {
                "cid": np.repeat(np.arange(k, dtype=np.int32), dim),
                "pos": np.tile(np.arange(dim, dtype=np.int32), k),
                "su": su.reshape(-1),
                "cnt": np.repeat(cnt, dim),
            }
        )

    return _stats


def _make_km_assign(cents_lists: list[list[int]]):
    """Worker closure factory for the final assignment: vectorized
    quantize + exact-int64 distance argmin per Arrow batch. Bit-equal
    to the former dims⨝broadcast-centroid join (numpy float64 floor ==
    the engine FLOOR over the same doubles; int64 sums exact)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("struct<cid:int,d:long>")
    def _assign(v):  # pd.Series of ndarray -> pd.DataFrame
        import numpy as np
        import pandas as pd

        if len(v) == 0:
            return pd.DataFrame({"cid": pd.Series(dtype="int32"), "d": pd.Series(dtype="int64")})
        c = np.asarray(cents_lists, dtype=np.int64)
        x = np.stack([np.asarray(r, dtype=np.float64) for r in v])
        q = np.floor(x * 1e6 + 0.5).astype(np.int64)
        d = ((q[:, None, :] - c[None, :, :]) ** 2).sum(axis=2)
        cid = d.argmin(axis=1)
        return pd.DataFrame(
            {"cid": cid.astype("int32"), "d": d[np.arange(len(cid)), cid]}
        )

    return _assign


def kmeans_clusters(
    embeddings: DataFrame,
    k: int = 8,
    iterations: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    salt: str = "km-",
    prebuilt_base: DataFrame | None = None,
) -> DataFrame:
    """(vec_id, cluster_id, sq_dist_units): Lloyd's k-means with
    CROSS-ENGINE-EXACT arithmetic — the PageRank treatment applied to
    clustering, so the whole iterative algorithm is oracle-pairable
    (:func:`sql_kmeans` emits the identical computation as unrolled
    DuckDB CTEs):

    - coordinates quantize ONCE to scale-6 longs (:func:`_km_quant`'s
      FLOOR(x·10⁶ + 0.5), applied in numpy over the same float64
      values — bit-identical); every distance is then an exact integer
      Σ(xq−cq)² and the argmin (tie-break: lowest cluster id) is
      bit-deterministic;
    - seeds are the k vectors with the smallest cross-engine md5 hash
      (the sampling.py idiom), cluster ids in that hash order;
    - centroid updates are integer sums + one FLOOR(su/cnt + 0.5) per
      coordinate (su < 2⁵³, so the double division is exact on both
      engines); empty clusters keep their previous centroid.

    PERF (round 14, measured at sf0.1): the per-iteration work is ONE
    Arrow-batched numpy pass over the packed vectors — quantize, one
    (batch×k×dim) int64 distance tensor, argmin, per-(cid, pos) partial
    sums — yielding k·dim partial rows per task, merged by a tiny
    aggregate; the final assignment is the same argmin as a pandas UDF.
    The previous form (exploded (id, pos, xq) dims ⨝ broadcast k×dim
    centroids + two-level aggregate, all-JVM) evaluated a k-times-
    multiplied row stream per iteration and measured 6.8 s warm vs
    3.6 s for the numpy form (same-session A/B, bit-equal outputs) —
    the round-11 simhash lesson again: a vectorized C-kernel Arrow
    stage beats a k-fanout JVM join even with whole-stage codegen.
    Determinism is unchanged: every step is int64 (partition- and
    batch-order independent), locked by the numpy-replay pytest and
    the partitioning-invariance pytest. For very large k the per-batch
    distance tensor wants chunking (k·dim·batch ints) — the same
    blowup the old join form carried as k-fanout rows.

    Centroids are the one legitimately driver-sized object (k×dim
    longs), collected once per iteration. Cache lifetime is
    CALLER-OWNED — wrap the call in ``pipeline.cache_scope(spark)`` to
    release the persisted packed-vector table on exit (the one
    library-wide convention).

    ``prebuilt_base`` (round 15): a caller that ALSO consumes the
    packed (id, v) corpus (semantic_dedup_pairs' pair join) passes its
    own persisted ``select(id_col AS id, vec_col AS v)`` table so the
    corpus is materialized ONCE — the round-14 Arrow port had dropped
    the `_dims` sharing and the composite persisted the corpus twice
    (8.2 s warm vs ~4.5 across rounds 11-13). The seed collect reads
    the base table (same (id, v) values, so seeds are bit-identical)
    and is the action that populates the cache — one parquet scan
    total instead of a separate seed scan + a first-iteration scan."""
    from pyspark.storagelevel import StorageLevel

    if prebuilt_base is not None:
        base = prebuilt_base  # caller-persisted (id, v)
    else:
        base = _spread_v(
            embeddings.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
        ).persist(StorageLevel.MEMORY_AND_DISK)

    h = F.conv(
        F.substring(F.md5(F.concat(F.lit(salt), F.col("id").cast("string"))), 1, 8),
        16,
        10,
    ).cast("long")
    seed_rows = (
        base.select("id", "v", h.alias("_h"))
        .orderBy("_h", "id")
        .limit(k)
        .collect()
    )
    # cents[cid][pos] = quantized coordinate (Python floor matches the
    # engine form exactly: floor(x*1e6 + 0.5) over the float64 value)
    import math

    cents: list[list[int]] = [
        [int(math.floor(float(x) * 1e6 + 0.5)) for x in r["v"]] for r in seed_rows
    ]
    dim = len(cents[0])

    for _ in range(iterations):
        stats = (
            base.select("v")
            .mapInArrow(_make_km_stats(cents, k, dim), "cid int, pos int, su long, cnt long")
            .groupBy("cid", "pos")
            .agg(F.sum("su").alias("su"), F.sum("cnt").alias("cnt"))
            .collect()
        )
        nxt = [list(c) for c in cents]  # empty clusters keep previous
        for r in stats:
            if r["cnt"]:
                # exact double division (su < 2^53), FLOOR(x + 0.5) rounding
                nxt[r["cid"]][r["pos"]] = int(math.floor(r["su"] / r["cnt"] + 0.5))
        cents = nxt

    return base.select("id", _make_km_assign(cents)(F.col("v")).alias("_a")).select(
        F.col("id").alias(id_col),
        F.col("_a.cid").cast("int").alias("cluster_id"),
        F.col("_a.d").alias("sq_dist_units"),
    )


def sql_kmeans(
    k: int = 8, iterations: int = 3, salt: str = "km-", table: str = "embeddings"
) -> str:
    """DuckDB twin of :func:`kmeans_clusters`: same quantization, seed
    rule, integer distances, tie-break, and centroid update — unrolled
    one CTE pair (assign/centroid) per iteration."""
    dims = f"""dims AS (
        SELECT vec_id AS id,
               generate_subscripts(embedding, 1) - 1 AS pos,
               CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 1e6 + 0.5) AS BIGINT) AS xq
        FROM {table}
    )"""
    seeds = f"""c0 AS (
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY h, id) - 1 AS INTEGER) AS cid, id
        FROM (
            SELECT vec_id AS id,
                   CAST('0x' || substr(md5('{salt}' || CAST(vec_id AS VARCHAR)), 1, 8) AS BIGINT) AS h
            FROM {table}
            ORDER BY h, vec_id LIMIT {k}
        )
    ),
    cent0 AS (
        SELECT c0.cid, dims.pos, dims.xq AS cq FROM c0 JOIN dims ON c0.id = dims.id
    )"""
    its = []
    prev = "cent0"
    for i in range(1, iterations + 1):
        its.append(
            f"""a{i} AS (
        SELECT id, cid, d AS sq_dist_units FROM (
            SELECT id, cid, d,
                   ROW_NUMBER() OVER (PARTITION BY id ORDER BY d, cid) AS rn
            FROM (
                SELECT dims.id, c.cid,
                       CAST(SUM((dims.xq - c.cq) * (dims.xq - c.cq)) AS BIGINT) AS d
                FROM dims JOIN {prev} c ON dims.pos = c.pos
                GROUP BY dims.id, c.cid
            )
        ) WHERE rn = 1
    ),
    cent{i} AS (
        SELECT p.cid, p.pos,
               COALESCE(CAST(FLOOR(CAST(m.su AS DOUBLE) / m.cnt + 0.5) AS BIGINT), p.cq) AS cq
        FROM {prev} p LEFT JOIN (
            SELECT a{i}.cid, dims.pos, SUM(dims.xq) AS su, COUNT(*) AS cnt
            FROM dims JOIN a{i} ON dims.id = a{i}.id
            GROUP BY a{i}.cid, dims.pos
        ) m ON p.cid = m.cid AND p.pos = m.pos
    )"""
        )
        prev = f"cent{i}"
    final = f"""SELECT id AS vec_id, cid AS cluster_id, d AS sq_dist_units FROM (
        SELECT id, cid, d,
               ROW_NUMBER() OVER (PARTITION BY id ORDER BY d, cid) AS rn
        FROM (
            SELECT dims.id, c.cid,
                   CAST(SUM((dims.xq - c.cq) * (dims.xq - c.cq)) AS BIGINT) AS d
            FROM dims JOIN {prev} c ON dims.pos = c.pos
            GROUP BY dims.id, c.cid
        )
    ) WHERE rn = 1
    ORDER BY vec_id"""
    unrolled = ",\n    ".join(its)
    return f"""
    WITH {dims},
    {seeds},
    {unrolled}
    {final}
    """


# --------------------------------------------- SemDeDup semantic dedup

def semantic_dedup_pairs(
    embeddings: DataFrame,
    k: int = 8,
    iterations: int = 3,
    threshold: float = 0.92,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    salt: str = "km-",
) -> DataFrame:
    """(cluster_id, vec_id_a, vec_id_b, cos_sim): SemDeDup (Abbas et
    al. 2023, arXiv:2303.09540) — embedding-space near-duplicate pairs:
    k-means buckets the corpus, then EXACT pairwise cosine runs only
    WITHIN each cluster. This is the semantic sibling of MinHash/SimHash
    dedup: it catches paraphrases whose token sets share nothing, which
    no shingle-based method can see, and the clusters are what keep it
    bucketed — never all-pairs.

    Scale: the paper's own containment argument — per-cluster work is
    quadratic, so k scales with N to bound cluster size (k ≈ N/target,
    e.g. 100k clusters of ~10⁴ docs at 10⁹ docs) and total pair volume
    is Σ n_c² ≈ N·target, linear in N for fixed target. The pair join
    shuffles on (cluster_id, pos) — pure codegen'd integer arithmetic,
    no Python. Cross-engine determinism: coordinates ride the k-means
    scale-6 quantization, so dot products and squared norms are exact
    integers; the only float steps (sqrt, one divide, FLOOR-quantize to
    1e-6) are single IEEE operations — bit-equal in DuckDB
    (:func:`sql_semantic_pairs`), making this a fully ORACLE-PAIRED
    dedup member (MinHash/SimHash are rows-only).

    Consumers/persists per CLAUDE.md (round-15 form — ONE corpus
    materialization): the packed (id, v) `base` persists once and feeds
    k-means (``prebuilt_base`` — seeds, Lloyd iterations, assignment
    all read the cache; the round-14 Arrow port had un-shared this and
    the composite persisted the corpus twice, 8.2 s warm vs ~4.5 in
    rounds 11-13); the final assignment persists (both pair-join legs —
    re-running 3 Lloyd iterations per leg otherwise); `da` joins assign
    to the PACKED base first and explodes after (guide §3.3 — the old
    form joined N·dim exploded rows) and persists — both pair-join legs
    AND the norms aggregate read it (norms = Σxq² per id needs exactly
    da's rows, so the old separately-persisted `dims` table is gone).
    Cache lifetime is CALLER-OWNED — wrap the call in
    ``pipeline.cache_scope(spark)`` to release the persisted
    intermediates on exit (the one library-wide convention)."""
    from pyspark.storagelevel import StorageLevel

    base = _spread_v(
        embeddings.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    ).persist(StorageLevel.MEMORY_AND_DISK)
    assign = (
        kmeans_clusters(
            embeddings, k=k, iterations=iterations, id_col=id_col,
            vec_col=vec_col, salt=salt, prebuilt_base=base,
        )
        .select(F.col(id_col).alias("id"), "cluster_id")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    da = (
        base.join(assign, "id")
        .select("cluster_id", "id", F.posexplode("v").alias("pos", "x"))
        .select("cluster_id", "id", "pos", _km_quant(F.col("x")).alias("xq"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # Pin: both pair-join legs and the norms aggregate read `da` as
    # independent leaf jobs; the single count() job also populates the
    # assign cache race-free (base is already cached by the seed pass).
    _pin(da)
    left = da.select(
        "cluster_id", F.col("id").alias("id_a"), "pos", F.col("xq").alias("xa")
    )
    right = da.select(
        "cluster_id", F.col("id").alias("id_b"), "pos", F.col("xq").alias("xb")
    )
    dot_q = (
        left.join(right, ["cluster_id", "pos"])
        .filter(F.col("id_b") > F.col("id_a"))
        .groupBy("cluster_id", "id_a", "id_b")
        .agg(F.sum(F.col("xa") * F.col("xb")).alias("dotq"))
    )
    norms = da.groupBy("id").agg(F.sum(F.col("xq") * F.col("xq")).alias("nq"))
    na = norms.select(F.col("id").alias("id_a"), F.col("nq").alias("na"))
    nb = norms.select(F.col("id").alias("id_b"), F.col("nq").alias("nb"))
    # na, nb < 2^53 so their double casts are exact; product/sqrt/divide
    # are single IEEE ops, then the FLOOR idiom (never engine ROUND)
    cos_q = F.floor(
        F.col("dotq").cast("double")
        / F.sqrt(F.col("na").cast("double") * F.col("nb").cast("double"))
        * F.lit(1e6)
        + F.lit(0.5)
    ) / F.lit(1e6)
    return (
        dot_q.join(na, "id_a")
        .join(nb, "id_b")
        .select(
            "cluster_id",
            F.col("id_a").alias("vec_id_a"),
            F.col("id_b").alias("vec_id_b"),
            cos_q.alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= F.lit(threshold))
        .orderBy("cluster_id", "vec_id_a", "vec_id_b")
    )


def sql_semantic_pairs(
    k: int = 8,
    iterations: int = 3,
    threshold: float = 0.92,
    salt: str = "km-",
    table: str = "embeddings",
) -> str:
    """DuckDB twin of :func:`semantic_dedup_pairs`: the k-means twin
    nested as a CTE, then the identical quantized-integer pair join.
    The threshold is emitted as the Python-computed repr CAST AS DOUBLE
    (decimal-literal hazard, CLAUDE.md)."""
    inner = sql_kmeans(k=k, iterations=iterations, salt=salt, table=table)
    return f"""
    WITH assign AS ({inner}),
    qd AS (
        SELECT vec_id AS id,
               generate_subscripts(embedding, 1) - 1 AS pos,
               CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 1e6 + 0.5) AS BIGINT) AS xq
        FROM {table}
    ),
    nrm AS (SELECT id, CAST(SUM(xq * xq) AS BIGINT) AS nq FROM qd GROUP BY id),
    dt AS (
        SELECT aa.cluster_id, a.id AS id_a, b.id AS id_b,
               CAST(SUM(a.xq * b.xq) AS BIGINT) AS dotq
        FROM qd a
        JOIN assign aa ON a.id = aa.vec_id
        JOIN assign ab ON ab.cluster_id = aa.cluster_id AND ab.vec_id > aa.vec_id
        JOIN qd b ON b.id = ab.vec_id AND b.pos = a.pos
        GROUP BY aa.cluster_id, a.id, b.id
    )
    SELECT * FROM (
        SELECT dt.cluster_id, dt.id_a AS vec_id_a, dt.id_b AS vec_id_b,
               FLOOR(CAST(dt.dotq AS DOUBLE)
                     / sqrt(CAST(na.nq AS DOUBLE) * CAST(nb.nq AS DOUBLE))
                     * 1e6 + 0.5) / 1e6 AS cos_sim
        FROM dt
        JOIN nrm na ON na.id = dt.id_a
        JOIN nrm nb ON nb.id = dt.id_b
    )
    WHERE cos_sim >= CAST({threshold!r} AS DOUBLE)
    ORDER BY cluster_id, vec_id_a, vec_id_b
    """


# ---------------------- Johnson-Lindenstrauss random-projection sketch

def jl_signs(out_dims: int = 8, in_dims: int = 64, salt: str = "jl-") -> list[list[int]]:
    """Deterministic ±1 projection matrix (Achlioptas 2003: Rademacher
    entries satisfy the JL lemma): sign(i, j) from the low bit of
    md5('jl-{i}-{j}') — reproducible anywhere, no RNG state to ship.
    Driver-side constants (out_dims×in_dims ints), the
    default_quality_weights precedent."""
    return [
        [
            1
            if int(hashlib.md5(f"{salt}{i}-{j}".encode()).hexdigest()[:8], 16) % 2 == 0
            else -1
            for j in range(in_dims)
        ]
        for i in range(out_dims)
    ]


def random_projection_sketch(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_dims: int = 8,
    in_dims: int = 64,
    salt: str = "jl-",
) -> DataFrame:
    """Johnson-Lindenstrauss compression of the embedding column: the
    64-float vector becomes out_dims exact integers y_i = Σ_j s_ij·q_j
    over FLOOR-quantized 1e-6-unit coordinates — the cheap first stage
    in front of any ANN family (8 longs instead of 64 floats per
    vector: store less, shuffle less, band on the sketch).

    Fully oracle-pairable: coordinates quantize per element BEFORE any
    sum (the quantize-before-cross-row-sum invariant), the ±1 signs
    are plan literals derived from md5 (:func:`jl_signs`), and every
    y_i is exact long arithmetic in any partition/evaluation order.

    Plan shape: one posexplode → per-element quantize → ONE
    aggregation with out_dims conditional sums, the sign picked from a
    64-literal array by element_at (codegen'd; out_dims stays ≪ the
    64-agg-column codegen cliff documented in CLAUDE.md). No joins, no
    Python, no shuffle beyond the (id) aggregation."""
    signs = jl_signs(out_dims, in_dims, salt)
    rows = _spread_v(df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("_v"))).select(
        "id", F.posexplode("_v").alias("_j", "_x")
    )
    q = rows.select(
        "id",
        "_j",
        F.floor(F.col("_x").cast("double") * F.lit(1e6) + F.lit(0.5)).cast("long").alias("_q"),
    )
    aggs = []
    for i in range(out_dims):
        arr = F.array(*[F.lit(s) for s in signs[i]])
        aggs.append(
            F.sum(F.element_at(arr, F.col("_j") + 1) * F.col("_q"))
            .cast("bigint")
            .alias(f"y{i}")
        )
    return (
        q.groupBy("id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_dims"), *aggs)
        .withColumnRenamed("id", id_col)
    )


def sql_random_projection(
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_dims: int = 8,
    in_dims: int = 64,
    salt: str = "jl-",
) -> str:
    """DuckDB twin of :func:`random_projection_sketch`: identical sign
    literals (1-based list indexing matches element_at(_j+1)), same
    per-element FLOOR quantize, same conditional integer sums."""
    signs = jl_signs(out_dims, in_dims, salt)
    cols = ",\n           ".join(
        "CAST(SUM((" + "[" + ",".join(str(s) for s in signs[i]) + "]" + ")[j] * q) AS BIGINT)"
        f" AS y{i}"
        for i in range(out_dims)
    )
    return f"""
    WITH q AS (
        SELECT id, j, CAST(FLOOR(CAST(x AS DOUBLE) * 1e6 + 0.5) AS BIGINT) AS q
        FROM (SELECT {id_col} AS id,
                     generate_subscripts({vec_col}, 1) AS j,
                     unnest({vec_col}) AS x
              FROM {table})
    )
    SELECT id AS {id_col}, CAST(COUNT(*) AS BIGINT) AS n_dims,
           {cols}
    FROM q GROUP BY id ORDER BY {id_col}
    """


def hard_negative_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    query_id_col: str = "query_id",
    rounding: int | None = 4,
) -> DataFrame:
    """Hard-negative mining for contrastive training (the DPR/SimCLR
    prep step): for each query, the top-k most-similar candidates with
    a DIFFERENT label — maximally confusable TRUE negatives, the pairs
    a contrastive loss learns the most from (same-label neighbors are
    positives and must not leak into the negative set).

    A thin wrapper over :func:`brute_force_topk`'s hard-negative mode
    (same plan, plus the label-disagreement join condition) — ONE
    implementation so the two can never drift (the review's reuse
    finding; the oracle strings share a builder the same way)."""
    return brute_force_topk(
        embeddings,
        queries,
        k=k,
        id_col=id_col,
        vec_col=vec_col,
        query_id_col=query_id_col,
        rounding=rounding,
        exclude_same_label_col=label_col,
    )
