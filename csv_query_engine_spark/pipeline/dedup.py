"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash
(SURVEY.md §7 phase 6 — the training-data-pipeline layer).

Scale design (the point of each implementation):

* **exact** — hash aggregate on the fingerprint; one shuffle keyed by a
  16-byte digest, no text moves after the map side.
* **n-gram Jaccard (exact, pairwise)** — only for bounded candidate
  sets; the all-pairs form is quadratic and kept subset-gated.
* **MinHash LSH** — the scale path for near-dup at 100 TB: shingle ->
  K minhashes (one map-side pass, built-in xxhash64, no Python) ->
  band buckets -> candidate pairs only where a band collides -> exact
  Jaccard verification of candidates. Shuffle volume is O(docs × bands),
  independent of the quadratic pair space.
* **SimHash** — 64-bit signature per doc via an Arrow-batched pandas UDF
  (bit-majority over md5-derived token hashes; built-ins cannot express
  the 64-lane majority vote without a 64× explode), then 16-bit band
  blocking and exact Hamming verification.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from csv_query_engine_spark.pipeline.common import pin as _pin
from csv_query_engine_spark.pipeline.common import spread as _spread
from csv_query_engine_spark.pipeline.text import fingerprint, normalize_text, tokens


# --------------------------------------------------------------- exact


def exact_dedup_canonical(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Deterministic exact dedup on the normalized-text fingerprint:
    survivor = min id per fingerprint; also reports the collapsed
    duplicate count. One shuffle on the digest."""
    return (
        df.select(F.col(id_col), fingerprint(F.col(text_col)).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("n_copies"))
    )


# ------------------------------------------------------ shingles / jaccard


def char_shingles(col: Column, k: int = 5) -> Column:
    """Distinct character k-grams of the normalized text (array<string>).
    Pure built-ins: sequence + transform + substring, codegen'd.

    PERF: only pass a *materialized plain column* (pre-normalized via a
    prior ``select``). Passing an expression tree inlines it into every
    lambda element — measured 17× slower at sf0.1 because the regex
    normalization re-ran once per shingle position. Use
    :func:`shingled` for the safe two-step form."""
    n = F.greatest(F.length(col) - F.lit(k - 1), F.lit(1))
    return F.array_distinct(F.transform(F.sequence(F.lit(1), n), lambda i: F.substring(col, i, k)))


def shingled(df: DataFrame, id_col: str, text_col: str, k: int = 5) -> DataFrame:
    """(id, grams) with normalization materialized BEFORE shingling so
    the regex runs once per row, not once per shingle position."""
    norm = _spread(df).select(F.col(id_col).alias("id"), normalize_text(F.col(text_col)).alias("_s"))
    return norm.select("id", char_shingles(F.col("_s"), k).alias("grams"))


def token_ngrams(tok_col: Column, n: int = 3) -> Column:
    """Distinct word n-grams (array<string>) from a *materialized* token
    array column (same inlining hazard as :func:`char_shingles`: passing
    the tokenizer expression would re-run it per n-gram position).

    KEPT DELIBERATELY (round-9 measured A/B, BASELINE.md): porting the
    allpairs/containment/minhash gram builds to the text._ngram_rows
    explode-index form measured SLOWER at sf0.1 AND at the 10x probe
    (e.g. containment 24 -> 33 s at 10x) — those consumers need the
    per-doc SET, so the rows form pays an extra full shuffle
    (distinct/collect_set) that outweighs the interpreted lambda on a
    materialized input.  Explode-index wins only when downstream
    consumes exploded rows (incremental_dedup, near_dup_clusters,
    text.py — which already use it)."""
    cnt = F.greatest(F.size(tok_col) - F.lit(n - 1), F.lit(1))
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), cnt - 1),
            lambda i: F.concat_ws(" ", F.slice(tok_col, i + 1, n)),
        )
    )


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard similarity of two DUPLICATE-FREE arrays
    (deterministic integer ratio -> bit-identical across engines).
    |A∪B| is derived as |A|+|B|−|A∩B| instead of materializing
    ``array_union`` — half the per-pair set work (measured on the
    23k-pair sf0.1 verify stage); every call site passes
    ``array_distinct``-produced arrays, which the identity requires."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(a) + F.size(b) - inter
    return F.when(union > 0, inter.cast("double") / union.cast("double")).otherwise(F.lit(0.0))


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """All-pairs exact n-gram Jaccard ≥ threshold. QUADRATIC — meant for
    bounded candidate sets (a pre-filtered bucket, a sampled audit), not
    the full corpus; the corpus-scale path is :func:`minhash_lsh_pairs`."""
    grams = (
        _spread(df)
        .select(F.col(id_col).alias("id"), tokens(F.col(text_col)).alias("_toks"))
        .select("id", token_ngrams(F.col("_toks"), n).alias("grams"))
    )
    a = grams.select(F.col("id").alias("id_a"), F.col("grams").alias("grams_a"))
    b = grams.select(F.col("id").alias("id_b"), F.col("grams").alias("grams_b"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", jaccard(F.col("grams_a"), F.col("grams_b")).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


# ------------------------------------------------------------ MinHash LSH


def _in_bucket_pairs(ids: Column) -> Column:
    """All i<j element pairs of a sorted array, as array<struct<id_a,id_b>>
    (the in-bucket candidate enumeration for LSH blocking)."""
    return F.flatten(
        F.transform(
            ids,
            lambda x, i: F.transform(
                F.slice(ids, i + F.lit(2), F.size(ids)),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )


def _hashed_shingles(
    df: DataFrame, id_col: str, text_col: str, shingle_k: int,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """(id, grams, hashes): distinct shingles and their hashes — the
    shared input of the OPH signature build and the exact-Jaccard
    verification.  ``hash_mode``:

    * ``"xxhash64"`` (default, THE scale path) — one cheap JVM hash.
    * ``"md5"`` — the library-wide reproducible-internals recipe
      (features._hash32, 32-bit; CLAUDE.md: never re-inline it), which
      DuckDB can replay bit-for-bit — this is what makes the OPH
      signature/banding pipeline oracle-pairable.  Costs an md5 + hex
      parse per shingle; use it for verification tiers, not the hot
      path (A/B in BASELINE.md round 10)."""
    if hash_mode == "md5":
        from csv_query_engine_spark.pipeline.features import _hash32

        def hf(g):
            return _hash32(g, "mh-")
    elif hash_mode == "xxhash64":
        # wrapped: F.transform inspects the lambda signature and
        # rejects xxhash64's *cols varargs form
        def hf(g):
            return F.xxhash64(g)
    else:
        raise ValueError(f"unknown hash_mode: {hash_mode!r}")
    hashes = F.transform("grams", hf)
    if hash_mode == "md5":
        # 32-bit hashes CAN collide within a doc (~|grams|²/2³³); the
        # exact-Jaccard union derives |A|+|B|−|A∩B| from array SIZES,
        # so the arrays must stay duplicate-free to match the twin's
        # list(DISTINCT gh).  64-bit mode keeps the cheaper raw form.
        hashes = F.array_distinct(hashes)
    return shingled(df, id_col, text_col, shingle_k).select(
        "id",
        "grams",
        hashes.alias("hashes"),
    )


def _oph_signatures(
    hashed: DataFrame, num_hashes: int, hash_bits: int = 64
) -> DataFrame:
    """(id, sig): ``num_hashes``-slot MinHash signatures from a
    (id, hashes) table via ONE-PERMUTATION HASHING (Li, Owen, Zhang
    2012) with deterministic densification — each shingle is hashed
    ONCE, the hash's top log2(K) bits pick a signature slot, and each
    slot keeps its minimum. Empty slots (short docs) borrow
    deterministically from the doc's non-empty minima, so two docs with
    identical shingle sets always get identical signatures (the property
    LSH banding needs).

    Why OPH and not K independent hash functions: the K-rehash form
    costs O(K·|shingles|) hash evaluations per doc — measured ~6 s of
    the sf0.1 signature stage as an interpreted 64× higher-order-
    function loop (and the explode + 64-min-aggs alternative is worse:
    64 aggregate columns push HashAggregate off whole-stage codegen,
    measured 57 s). OPH is O(|shingles|): one explode keyed by (id,
    slot) with a codegen'd map-side-combined MIN, then a ≤K-row
    assembly per doc. At 100 TB that is a 64× reduction in hash
    compute for the same s-curve behavior (OPH's slot-collision
    fraction is an unbiased Jaccard estimator, same as classic
    MinHash).

    ``num_hashes`` must be a power of two (slot = top bits of the
    hash). ``hashed`` is consumed once (one explode); callers with
    multiple consumers persist it. ``hash_bits`` is the width of the
    input hashes (64 for xxhash64, 32 for the md5 recipe) — the slot
    is always the TOP log2(K) bits."""
    bits = (num_hashes - 1).bit_length()
    if num_hashes != 1 << bits:
        raise ValueError(f"num_hashes must be a power of two, got {num_hashes}")

    # One pass: explode the per-doc hash array, slot by the top bits,
    # MIN per (id, slot). Explode rows stay in the doc's partition, so
    # the partial aggregate combines to ≤K rows per doc map-side — the
    # shuffle carries O(docs × K) longs, independent of shingle count.
    slot_mins = (
        hashed.select("id", F.explode("hashes").alias("gh"))
        .groupBy("id", F.shiftrightunsigned("gh", hash_bits - bits).alias("slot"))
        .agg(F.min("gh").alias("mh"))
    )
    # Assemble the K-array per doc; sort_array orders by slot, so the
    # map lookup below is deterministic. Densify empty slots by
    # borrowing the (slot mod n_filled)-th non-empty minimum — a
    # function of the doc's own minima only, hence reproducible across
    # engines and identical for identical shingle sets.
    bm = F.map_from_entries(F.sort_array(F.collect_list(F.struct("slot", "mh"))))
    vals = F.map_values(F.col("_bm"))
    sig = F.transform(
        F.sequence(F.lit(0), F.lit(num_hashes - 1)),
        # try_element_at: ANSI mode makes plain element_at raise on a
        # missing map key; NULL (-> densify via coalesce) is the point.
        lambda j: F.coalesce(
            F.try_element_at(F.col("_bm"), j.cast("long")),
            F.element_at(vals, F.pmod(j, F.size(vals)) + 1),
        ),
    )
    return slot_mins.groupBy("id").agg(bm.alias("_bm")).select("id", sig.alias("sig"))


def _band_entries(
    sig: DataFrame, num_hashes: int, bands: int, hash_mode: str = "xxhash64"
) -> DataFrame:
    """(id, band, bucket) LSH band rows from a (id, sig) table — the
    ONE banding definition shared by :func:`minhash_lsh_pairs` and the
    guard-trigger probe (scripts/probe_guards.py counts oversized
    buckets with exactly the operator's own band keys, so the
    accounting cannot drift from the drop behavior).  md5 mode keeps
    the literal signature-slice string as the bucket so the partition
    is engine-independent (the oracle twin groups by the same string);
    the scale path hashes it down to 8 bytes (the CLAUDE.md
    gram-shuffle rule — collision odds documented in the module
    notes)."""
    rows_per_band = num_hashes // bands

    def _band_key(b):
        slice_str = F.concat_ws(
            ",",
            F.transform(
                F.slice("sig", b * rows_per_band + 1, rows_per_band),
                lambda h: h.cast("string"),
            ),
        )
        return slice_str if hash_mode == "md5" else F.xxhash64(slice_str)

    return sig.select(
        "id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(b.alias("band"), _band_key(b).alias("bucket")),
            )
        ).alias("be"),
    ).select("id", F.col("be.band").alias("band"), F.col("be.bucket").alias("bucket"))


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 5,
    threshold: float = 0.5,
    max_bucket: int = 4096,
    est_margin: float | None = 0.15,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """Near-duplicate pairs via banded MinHash LSH with exact-Jaccard
    verification of candidates.

    ``hash_mode="md5"`` swaps every engine-internal hash for the
    library's reproducible md5 recipe (32-bit shingle hashes; band
    buckets keyed by the literal signature-slice STRING instead of
    xxhash64 of it), making the WHOLE pipeline — signatures, banding,
    estimate screen, exact verification — bit-replayable by DuckDB:
    the oracle twin of ``dedup_minhash_lsh_pairs_rep`` verifies it
    end-to-end.  The default stays xxhash64 (cheaper hash, narrower
    bucket shuffle keys) for the scale path.

    With 64 hashes / 16 bands (r=4), collision probability at the s-curve
    midpoint gives high recall for jaccard ≥ ~0.5 while keeping candidate
    volume near-linear. Verification joins shingle sets back, so emitted
    pairs are TRUE positives only (precision 1.0; recall < 1 is the
    documented LSH trade).

    ``max_bucket`` is the degenerate-distribution guard: a mis-tuned band
    or a pathological corpus (e.g. thousands of identical/near-empty
    docs sharing one shingle set) would otherwise collapse into a single
    bucket whose quadratic in-bucket explode straggles or OOMs one task.
    Oversized buckets are dropped — recall inside them degrades (exact
    dedup is the right tool for mass-identical docs), correctness of
    emitted pairs does not. Identical docs still pair up as long as the
    duplicate group stays under the cap (see the degenerate-corpus test).

    ``est_margin``: candidates are pre-screened with the MinHash
    ESTIMATE (fraction of matching signature components — already
    computed, 64 longs vs ~250-long hash arrays) and only pairs with
    estimate ≥ threshold − est_margin pay the exact intersect/union.
    A shared-vocabulary corpus floods the bands with j≈0.2–0.3
    collisions (measured 310k candidates from 5k docs at sf0.1, exact
    verification 3.5 s of a 5 s query); the estimate screen drops them
    for ~4× less per-pair work. Miss risk: est is a mean of 64
    Bernoulli(j) draws (σ≈0.0625), so a TRUE pair at exactly the
    threshold clears threshold−0.15 with P≈0.99; set est_margin=None
    to disable the screen and verify every candidate exactly.
    """
    # Materialize the two shared tables ONCE. The hash table feeds the
    # signature build and both sides of the exact-verification join;
    # the signature table feeds the band explode and both sides of the
    # estimate-screen join — without the persists each consumer re-runs
    # the shingle scan (measured 16.7 s cold / 7.3 s warm at sf0.1
    # recomputed vs 7.5 s / 2.7 s materialized). The cluster-scale
    # analog is the standard practice of checkpointing the signature
    # table to storage before LSH banding: ~2 KB/doc, linear in corpus,
    # spillable (MEMORY_AND_DISK), never wider than one row per doc.
    # persist, NOT localCheckpoint: the SQL columnar cache (compressed
    # batches + codegen'd InMemoryTableScan) is what makes the re-reads
    # cheap — the row-based checkpoint store measured 2× slower at
    # sf0.1. CACHE LIFETIME IS CALLER-OWNED: the blocks live until the
    # frame is GC'd, spark.catalog.clearCache(), or eviction — callers
    # running many dedup passes in one session should wrap calls in
    # pipeline.cache_scope(spark) (or clearCache, as bench.py does).
    from pyspark.storagelevel import StorageLevel

    hashed = _hashed_shingles(df, id_col, text_col, shingle_k, hash_mode).select(
        "id", "hashes"
    ).persist(StorageLevel.MEMORY_AND_DISK)
    sig = _oph_signatures(
        hashed, num_hashes, hash_bits=32 if hash_mode == "md5" else 64
    ).persist(StorageLevel.MEMORY_AND_DISK)
    # Materialize the caches BEFORE wiring dependent branches: the
    # est-screen and verify joins' four attach legs are independent
    # leaf jobs under AQE (broadcast futures at bench scale, concurrent
    # exchange materializations on a cluster) and a cold cache is
    # raced — each leg re-ran the full shingle/signature pipeline (the
    # media dup-pairs lesson). sig.count() pipelines over the cached
    # `hashed`, so the pin costs one cached pass.
    _pin(hashed)
    _pin(sig)

    band_entries = _band_entries(sig, num_hashes, bands, hash_mode)

    # Candidate pairs by grouping each (band, bucket) and enumerating
    # in-bucket combinations — ONE aggregation instead of a self-join
    # (a self-join evaluates the whole signature subtree twice). At a
    # sane tuning bucket lists stay small; max_bucket drops the
    # degenerate ones rather than letting one quadratic explode own a
    # task (see docstring).
    # _spread before pair enumeration: the bucket lists are few MB, so
    # AQE coalesces the agg output to ~1 partition and the combination
    # explode (quadratic in bucket size) would run serially.
    cand = (
        _spread(
            band_entries.groupBy("band", "bucket")
            .agg(F.sort_array(F.collect_list("id")).alias("ids"))
            .filter((F.size("ids") > 1) & (F.size("ids") <= max_bucket))
        )
        .select(F.explode(_in_bucket_pairs(F.col("ids"))).alias("p"))
        .select(F.col("p.id_a"), F.col("p.id_b"))
        .distinct()
    )

    # _spread(cand): AQE coalesces the candidate shuffle to ~1 partition
    # (231k two-long rows are a few MB), which would serialize the exact-
    # Jaccard verification — by far the heaviest per-row stage. Round-
    # robin the cheap id pairs BEFORE the joins attach the arrays.
    survivors = _spread(cand)
    if est_margin is not None:
        # Estimate screen: fraction of equal signature components is an
        # unbiased Jaccard estimator and the sig arrays are ~4× smaller
        # than the shingle-hash arrays, so noise candidates (band
        # collisions from shared vocabulary) die before the expensive
        # exact intersect/union. See docstring for the miss-risk math.
        est = F.aggregate(
            F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
            F.lit(0),
            lambda acc, x: acc + x,
        ).cast("double") / F.lit(float(num_hashes))
        survivors = (
            survivors
            .join(sig.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a")), "id_a")
            .join(sig.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b")), "id_b")
            .filter(est >= F.lit(float(threshold - est_margin)))
            .select("id_a", "id_b")
        )

    # Exact verification runs on the HASHED shingle arrays (array<long>),
    # not the strings: long intersect/union is several× cheaper, and a
    # 64-bit collision inflating an intersection needs ~|A|·|B|/2^64 ≈
    # 5e-15 odds at 300-shingle docs — numerically irrelevant.
    grams = hashed
    return (
        survivors
        .join(grams.select(F.col("id").alias("id_a"), F.col("hashes").alias("grams_a")), "id_a")
        .join(grams.select(F.col("id").alias("id_b"), F.col("hashes").alias("grams_b")), "id_b")
        .select("id_a", "id_b", jaccard(F.col("grams_a"), F.col("grams_b")).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_dedup_funnel(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    **minhash_kwargs,
) -> tuple[DataFrame, DataFrame]:
    """Exact-dedup → MinHash funnel: collapse byte-identical (normalized)
    texts to ONE representative each, then run banded MinHash LSH over
    the representatives only.  Returns ``(pairs, groups)``:

    * ``pairs`` — near-duplicate (id_a, id_b, jaccard) among
      REPRESENTATIVE ids (every kwarg of :func:`minhash_lsh_pairs`
      passes through);
    * ``groups`` — one row per distinct normalized text:
      (fingerprint, <id_col> = min member id, n_copies).  Members of a
      group are jaccard-1.0 duplicates of their representative by
      construction, so the funnel's full pair relation is
      ``groups`` (within-group) ∪ ``pairs`` (across groups).

    This is the composition every production pipeline runs, and the fix
    for the one honest scale limit the 500k probe recorded (BASELINE.md
    round 10): a template-dense corpus floods LSH buckets with
    mass-IDENTICAL docs whose quadratic candidate volume (6.02e8 pairs
    measured) is pure waste — exact dedup removes it for free in one
    fingerprint-keyed shuffle, after which the same corpus's LSH tier
    finishes in-box (round-11 probe tier, scripts/probe_guards.py).
    At 100 TB the prepass is the cheapest stage in the funnel: one
    map-side md5 + one 16-byte-keyed aggregate, no text movement after
    the map side.

    ``base`` (the normalize+fingerprint scan) feeds BOTH the groups
    aggregate and the reps semi-join, so it persists per the module's
    multi-consumer discipline (ADVICE round 11).  Cache lifetime is
    CALLER-OWNED — wrap in ``pipeline.cache_scope``."""
    from pyspark.storagelevel import StorageLevel

    base = df.select(
        F.col(id_col), F.col(text_col), fingerprint(F.col(text_col)).alias("fingerprint")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    # Pin before the groups aggregate and the reps semi-join fan out as
    # independent leaf jobs (the cache-race rule): each would re-run
    # the normalize+fingerprint scan on a cold cache.
    _pin(base)
    groups = base.groupBy("fingerprint").agg(
        F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("n_copies")
    )
    reps = base.join(groups.select(id_col), id_col, "left_semi").select(
        id_col, text_col
    )
    pairs = minhash_lsh_pairs(reps, id_col, text_col, **minhash_kwargs)
    return pairs, groups


def minhash_dedup_survivors(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 5,
    threshold: float = 0.5,
    est_margin: float | None = 0.15,
    hash_mode: str = "xxhash64",
    screen_partitions: int | str | None = "auto",
) -> DataFrame:
    """Per-doc KEEP/DROP dedup verdicts with LINEAR candidate volume —
    the 100-TB face of MinHash dedup (what production corpus pipelines
    à la RefinedWeb/SlimPajama actually run): instead of materializing
    every near-duplicate PAIR (inherently quadratic on a template-dense
    corpus — the round-10 probe measured 6.0e8 genuine sub-cap
    candidates at 500k docs, and round-11 measured that exact-dedup
    and signature-level collapse remove only ~135/175 of them, so NO
    prepass makes all-pairs linear), each doc is verified against AT
    MOST ``bands`` candidates: the min-id member of each of its LSH
    buckets.  Total exact-verify volume is ≤ bands × docs — linear —
    and no ``max_bucket`` cap is needed at all (a bucket's min is O(1)
    aggregate state; the 8192-identical-doc block that plain LSH must
    DROP is handled exactly: every member verifies against the block
    min and is marked duplicate).

    Output: one row per input doc — (id_col, is_dup, dup_of,
    dup_jaccard); ``dup_of`` = the SMALLEST verified bucket-min the doc
    near-duplicates (sentinels -1 / -1.0 when none — the nullable-output
    rule).  Survivors are the ``is_dup = false`` rows.

    Semantics are ONE-PASS GREEDY: a doc is dropped iff it verifies
    (exact Jaccard ≥ threshold) against a smaller-id doc sharing a
    bucket.  Two near-dup docs that only ever share buckets whose min
    is a third, non-matching doc both survive, and chains (C dups B,
    B dups A) drop both B and C without testing C against A — the
    standard greedy trade; use :func:`minhash_lsh_pairs` +
    :func:`near_dup_clusters` when transitive-closure clusters are
    required and the pair volume is affordable.

    ``hash_mode="md5"`` makes the whole verdict pipeline reproducible
    (the `dedup_minhash_survivors_rep` query's DuckDB twin replays it
    end to end); xxhash64 stays the scale default.

    ``screen_partitions`` (round 13 — the lever the round-12 magnitude
    probe named for the 2M wall): the estimate-screen signature-attach
    join shuffles ~``candidates × 2 × num_hashes`` longs, and at 2M
    docs that is ~24 GB over the session's default shuffle partitions
    (375 MB/partition at 64 → spill).  ``"auto"`` (the default) sizes
    the screen's exchanges from the measured doc count (one cheap count
    on the already-persisted signature table) targeting ~128 MB per
    shuffle partition — never below the session setting, so small-SF
    plans are unchanged; an int pins it; ``None`` keeps the session
    setting.  Correctness is identical in all modes (same rows, same
    verdicts), only the exchange partitioning changes.  Measured
    (BASELINE round 13, stage-isolated interleaved A/B at 2M over
    shared persisted inputs): default 64 partitions = [17.7, 27.8,
    23.1] s (the spill nondeterminism IS the swing), auto 253
    partitions = [16.7, 15.7, 17.2] s — 1.4× on the mean and the
    variance collapses; end-to-end the same pattern (auto [325.5,
    323.2] vs default [374.1, 248.5])."""
    from pyspark.storagelevel import StorageLevel

    hashed = _hashed_shingles(df, id_col, text_col, shingle_k, hash_mode).select(
        "id", "hashes"
    ).persist(StorageLevel.MEMORY_AND_DISK)
    sig = _oph_signatures(
        hashed, num_hashes, hash_bits=32 if hash_mode == "md5" else 64
    ).persist(StorageLevel.MEMORY_AND_DISK)
    be = _band_entries(sig, num_hashes, bands, hash_mode)
    # Bucket representative = MIN id — O(1) aggregate state per bucket,
    # so degenerate buckets cost nothing (no cap, no quadratic explode).
    mins = be.groupBy("band", "bucket").agg(F.min("id").alias("cand"))
    cand = _spread(
        be.join(mins, ["band", "bucket"])
        .filter(F.col("id") != F.col("cand"))
        .select("id", "cand")
        .distinct()
    )
    if est_margin is not None:
        est = F.aggregate(
            F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
            F.lit(0),
            lambda acc, x: acc + x,
        ).cast("double") / F.lit(float(num_hashes))
        n_screen = None
        if screen_partitions == "auto":
            # one cheap count on the persisted signatures (it forces the
            # materialization the first downstream action pays anyway);
            # candidate rows are bounded by bands/doc and each carries
            # two num_hashes-slot long arrays through the attach joins
            n_docs_m = sig.count()
            row_bytes = 2 * 8 * num_hashes + 32
            n_screen = max(
                int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")),
                min(4096, -(-n_docs_m * bands * row_bytes // (128 << 20))),
            )
        elif screen_partitions is not None:
            n_screen = int(screen_partitions)
        screened = cand
        sig_a = sig.select(F.col("id"), F.col("sig").alias("sig_a"))
        sig_b = sig.select(F.col("id").alias("cand"), F.col("sig").alias("sig_b"))
        if n_screen is not None:
            # explicit hash exchanges on the join keys: ensureRequirements
            # aligns the other side to the same partitioning, so these ARE
            # the joins' shuffles (no extra exchange), just wider
            screened = screened.repartition(n_screen, "id")
            sig_a = sig_a.repartition(n_screen, "id")
        cand = screened.join(sig_a, "id")
        if n_screen is not None:
            cand = cand.repartition(n_screen, "cand")
            sig_b = sig_b.repartition(n_screen, "cand")
        cand = (
            cand.join(sig_b, "cand")
            .filter(est >= F.lit(float(threshold - est_margin)))
            .select("id", "cand")
        )
    verified = (
        cand
        .join(hashed.select(F.col("id"), F.col("hashes").alias("h_a")), "id")
        .join(hashed.select(F.col("id").alias("cand"), F.col("hashes").alias("h_b")), "cand")
        .select("id", "cand", jaccard(F.col("h_a"), F.col("h_b")).alias("j"))
        .filter(F.col("j") >= threshold)
    )
    # Deterministic verdict: the smallest verified candidate wins (and
    # carries its jaccard) — min over a (cand, j) struct orders by cand,
    # which is unique per (id, cand) row.
    dup = (
        verified.groupBy("id")
        .agg(F.min(F.struct(F.col("cand"), F.col("j"))).alias("m"))
        .select("id", F.col("m.cand").alias("dup_of"), F.col("m.j").alias("dup_jaccard"))
    )
    return (
        sig.select("id")
        .join(dup, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.col("dup_of").isNotNull().alias("is_dup"),
            F.coalesce(F.col("dup_of"), F.lit(-1)).cast("bigint").alias("dup_of"),
            F.coalesce(F.col("dup_jaccard"), F.lit(-1.0)).alias("dup_jaccard"),
        )
    )


def survivor_clusters(verdicts: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Resolve :func:`minhash_dedup_survivors`'s greedy ``dup_of``
    chains to their ROOT survivor — the cluster face of the linear
    dedup family: every doc gets (id, cluster_root, is_dup) where
    ``cluster_root`` is the surviving doc at the end of its pointer
    chain (itself, for survivors).

    ``dup_of`` is strictly decreasing (a bucket MIN over ids that
    excludes the doc itself), so the verdict table is a FOREST: no
    cycles, termination guaranteed.  Resolution is pointer JUMPING
    (ptr ← ptr's ptr), which doubles resolved depth per round —
    O(log max_chain_depth) rounds, each one shuffle keyed by the
    pointer; state is localCheckpoint'd lazily every round with the
    convergence aggregate as the materializing action (the
    connected-components loop discipline — one job per round).  The
    input verdicts are checkpointed FIRST so the loop never re-runs
    the signature/verify pipeline that produced them.

    The convergence check is one scalar ``collect()`` PER JUMP ROUND —
    bounded (a single long) and unavoidable under the loop discipline,
    but it means total latency carries O(log max_chain_depth) driver
    round-trips; at extreme chain depths prefer batching more pointer
    doublings per convergence check before reaching for anything
    fancier (round-11 verdict note).

    The whole result is derived from the ONE checkpointed state table:
    ``is_dup`` ≡ (initial ptr ≠ id) — ``dup_of`` is a bucket MIN that
    excludes the doc itself, so it is strictly smaller than ``id`` for
    dups and the initial pointer equals ``id`` exactly for survivors.
    The earlier form joined the final state back to the *unpersisted*
    ``verdicts`` plan for ``is_dup``, which re-ran the entire upstream
    signature/verify pipeline a second time (measured ~2× the whole
    query at sf0.1, and a full second corpus pass at the 508k tier) —
    round-14 fix."""
    state0 = verdicts.select(
        F.col(id_col).alias("id"),
        F.when(F.col("is_dup").cast("boolean"), F.col("dup_of"))
        .otherwise(F.col(id_col))
        .cast("long")
        .alias("ptr"),
    ).localCheckpoint(eager=False)
    state = state0
    prev = state.agg(F.sum("ptr")).collect()[0][0]  # materializes state0
    while True:
        parents = state.select(F.col("id").alias("ptr"), F.col("ptr").alias("_p2"))
        state = (
            state.join(parents, "ptr")
            .select("id", F.col("_p2").alias("ptr"))
            .localCheckpoint(eager=False)
        )
        cur = state.agg(F.sum("ptr")).collect()[0][0]
        if cur == prev:  # pointers strictly decrease until fixpoint
            break
        prev = cur
    return state0.select(
        F.col("id").alias(id_col), (F.col("ptr") != F.col("id")).alias("is_dup")
    ).join(
        state.select(F.col("id").alias(id_col), F.col("ptr").alias("cluster_root")),
        id_col,
    )


# ------------------------------------------------- clustering / components


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    id_col: str = "id",
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """(id, cluster_id) where cluster_id = MIN node id of the connected
    component — the canonical dedup-cluster labeling (survivor = the id
    equal to its cluster_id).

    Algorithm: iterative min-label propagation over DataFrame joins —
    each round every node takes the min label over itself and its
    neighbors; converges in O(graph diameter) rounds. Near-dup graphs
    are dense clumps (diameter 2-3), so 3-4 rounds close them.
    Convergence is detected with one scalar aggregate per round
    (labels only ever decrease, so SUM(label) strictly decreases until
    the fixpoint — no per-row diff join needed). For adversarial
    long-chain graphs the round count grows; the remedy at scale is the
    large-star/small-star contraction of Kiveris et al. (CC-MR), which
    this propagation loop is the two-line special case of.

    Scale: each round is one shuffle keyed by node id (edge join) plus a
    map-side-combined min agg; label state is localCheckpoint'd every
    round, so plan depth stays O(1) (see the in-loop comment for the
    measured exponential-replan failure of the persist-only form).
    At very low dup incidence the loop could instead run over only
    edge-touched nodes (singletons bypass via anti-join, ~100× less
    state at 1% incidence); measured at sf0.1 the extra pre-loop edge
    materialization that variant forces outweighs the smaller loop, so
    the simple full-node form is kept and the restriction is left as the
    documented knob for corpora where the loop state dominates.
    """
    # localCheckpoint BEFORE symmetrizing, not after: the union's two
    # legs each embed the upstream edge pipeline (span blocking +
    # Jaccard verification here), so a post-union checkpoint executes
    # that pipeline twice — once per leg (measured: the whole
    # span-block+verify stage ran 2× in dedup_cluster_canonical).
    # Checkpointing the directed edges first materializes the pipeline
    # ONCE; the union then reads the checkpointed rows twice, which is
    # free. localCheckpoint, not persist: every loop iteration's logical
    # plan would otherwise embed the whole upstream subtree — each
    # convergence action re-pays its analysis/optimization, and a cache
    # miss re-pays its execution. Lineage truncates to the materialized
    # edge rows (tiny: one row per near-dup pair). Eager so the cost
    # lands once, here.
    e0 = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst")).localCheckpoint(
        eager=True
    )
    sym = e0.union(e0.select(F.col("dst").alias("src"), F.col("src").alias("dst")))

    # Lazy checkpoints throughout the loop: the convergence aggregate is
    # the action that materializes each round's labels, so every round
    # stays ONE job (eager would add a second materialization job per
    # round — measured +~50% on shallow graphs that close in 2 rounds).
    labels = nodes.select(
        F.col(id_col).alias("id"), F.col(id_col).cast("long").alias("lbl")
    ).localCheckpoint(eager=False)
    prev_sum = labels.agg(F.sum("lbl")).collect()[0][0]

    # One propagation round per convergence action. (Measured at sf0.1:
    # batching two rounds per action — bigger two-shuffle plan per
    # collect — costs more than the saved driver round-trip on the
    # shallow near-dup graphs this closes in 1-2 rounds.)
    #
    # Each round's labels MUST be localCheckpoint'd, not persisted:
    # persist caches the rows but keeps the logical plan, and this plan
    # references the previous labels TWICE (the edge join and the left
    # join), so plan size DOUBLES per round — analysis/optimization cost
    # goes exponential even with every byte cached (measured on an
    # 8-round graph: rounds 0-3 ≈ 2 s, round 5 ≈ 21 s, round 7 ≈ 139 s
    # of pure driver-side planning). Checkpointing truncates each
    # round's plan to a scan of the materialized (id, lbl) rows — O(1)
    # plan depth, constant ~1 s rounds on the same graph.
    for _ in range(max_iter):
        nbr_min = (
            sym.join(labels.withColumnRenamed("id", "src"), "src")
            .groupBy("dst")
            .agg(F.min("lbl").alias("nbr_lbl"))
            .withColumnRenamed("dst", "id")
        )
        new_labels = (
            labels.join(nbr_min, "id", "left")
            .select("id", F.least("lbl", F.coalesce("nbr_lbl", "lbl")).alias("lbl"))
            .localCheckpoint(eager=False)
        )
        new_sum = new_labels.agg(F.sum("lbl")).collect()[0][0]
        labels = new_labels
        if new_sum == prev_sum:
            converged = True
            break
        prev_sum = new_sum
    else:
        converged = False
    if not converged:
        # Truncated propagation must not be mistaken for a converged
        # clustering: a label that needs > max_iter hops (adversarial
        # long-chain graph) would otherwise silently diverge from the
        # recursive-CTE oracle. The scale remedy is
        # :func:`connected_components_star` (O(log n) rounds).
        import warnings

        warnings.warn(
            f"connected_components: label propagation did not converge in "
            f"{max_iter} rounds (graph diameter exceeds max_iter); labels are "
            f"incomplete. Use connected_components_star for high-diameter graphs.",
            RuntimeWarning,
            stacklevel=2,
        )
    # The returned frame reads the final round's checkpointed rows — a
    # self-contained O(1)-depth plan; checkpoint blocks are released on
    # GC, so repeated library calls don't accumulate cached state.
    return labels.select(F.col("id"), F.col("lbl").alias("cluster_id"))


def _canonical_undirected(e: DataFrame) -> DataFrame:
    """Distinct (src>dst) representation of an edge set, self-loops
    dropped — the normal form both star operations emit and consume."""
    return (
        e.select(
            F.greatest("src", "dst").alias("src"),
            F.least("src", "dst").alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def connected_components_star(
    nodes: DataFrame,
    edges: DataFrame,
    id_col: str = "id",
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iter: int = 50,
) -> DataFrame:
    """(id, cluster_id) by alternating large-star / small-star
    contraction (Kiveris et al., "Connected Components in MapReduce and
    Beyond") — same output contract as :func:`connected_components`
    (cluster_id = MIN node id of the component) but converging in
    O(log n) rounds instead of O(diameter), which is the remedy for
    adversarial long-chain graphs where min-label propagation needs one
    round per hop.

    * large-star: every node u connects each strictly-larger neighbor to
      m(u) = min(Γ(u) ∪ {u}) — hooks big ids onto small ones without
      ever increasing any edge's minimum, so the component min is
      preserved.
    * small-star: every node u connects its ≤-neighbors (and itself) to
      the minimum of that closed down-neighborhood — flattens chains
      into stars.

    Each round is two keyed shuffles (groupBy u) over the current edge
    set; edge rows only ever shrink toward the star form (u, min). The
    per-round edge set is localCheckpoint'd so lineage stays O(1) deep,
    and convergence is one scalar aggregate (count + xxhash64 sum of
    the canonical edge set — a changed set collides with probability
    ~2^-64). On a 2 000-node path graph this closes in 7 rounds where
    propagation needs 2 000 (see tests/test_dedup.py property tests).
    """
    mins = F.least(F.min("dst"), F.first("src")).alias("m")

    def _large_star(sym: DataFrame) -> DataFrame:
        m = sym.groupBy("src").agg(mins)
        return _canonical_undirected(
            sym.join(m, "src").filter(F.col("dst") > F.col("src")).select(
                F.col("dst").alias("src"), F.col("m").alias("dst")
            )
        )

    def _small_star(und: DataFrame) -> DataFrame:
        # und is canonical (src > dst): dst IS the ≤-neighborhood of src.
        m = und.groupBy("src").agg(mins)
        j = und.join(m, "src")
        to_min = j.select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        self_edge = m.select("src", F.col("m").alias("dst"))
        return _canonical_undirected(to_min.union(self_edge))

    # Lazy checkpoint: the signature aggregate below is the action that
    # materializes each round's edge set — one job per round.
    cur = _canonical_undirected(
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
    ).localCheckpoint(eager=False)

    def _sig(e: DataFrame):
        # decimal accumulator: summing random 64-bit hashes overflows a
        # long (ANSI mode raises); decimal(38,0) holds ~10^19 edge rows.
        row = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64("src", "dst").cast("decimal(38,0)")).alias("h"),
        ).collect()[0]
        return (row[0], row[1])

    prev = _sig(cur)
    converged = False
    for _ in range(max_iter):
        sym = cur.union(cur.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        nxt = _small_star(_large_star(sym)).localCheckpoint(eager=False)
        sig = _sig(nxt)
        cur = nxt
        if sig == prev:
            converged = True
            break
        prev = sig
    if not converged:
        # O(log n) convergence makes this unreachable for any graph the
        # default max_iter admits, but truncation must never be silent
        # (same contract as connected_components).
        import warnings

        warnings.warn(
            f"connected_components_star: edge set still changing after "
            f"{max_iter} rounds; labels may be incomplete.",
            RuntimeWarning,
            stacklevel=2,
        )

    # Fixpoint is a star forest: every remaining edge points a node at
    # its component min. Nodes with no edges are their own cluster.
    member = cur.groupBy("src").agg(F.min("dst").alias("cluster_id")).withColumnRenamed("src", "id")
    return (
        nodes.select(F.col(id_col).alias("id"))
        .join(member, "id", "left")
        .select("id", F.coalesce("cluster_id", F.col("id").cast("long")).alias("cluster_id"))
    )


def span_blocked_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    span_n: int = 8,
    max_span_docs: int = 64,
) -> DataFrame:
    """Deterministic near-dup candidate pairs: docs sharing at least one
    word ``span_n``-gram — the same near-linear shape as MinHash
    banding (one explode of gram positions, one shuffle keyed by the
    gram, in-group pair enumeration) but reproducible by the SQL twin,
    because bucket membership is gram EQUALITY (the twin groups by the
    gram string; this side keys the shuffle on xxhash64(gram), which
    preserves equality groups — see :func:`_span_candidates_from_toks`
    for the collision math). ``max_span_docs`` drops stop-phrase grams
    shared by everything (the degenerate-bucket guard, same role as
    minhash's ``max_bucket``)."""
    base = _spread(df.select(F.col(id_col).alias("id"), F.col(text_col).alias("_t"))).select(
        "id", tokens(F.col("_t")).alias("toks")
    )
    return _span_candidates_from_toks(base, span_n, max_span_docs)


def _span_candidates_from_toks(
    toks: DataFrame, span_n: int, max_span_docs: int
) -> DataFrame:
    """Span-blocked candidate pairs from a materialized (id, toks)
    table. The shuffle keys on xxhash64 of the span gram, not the
    string — 8 bytes instead of ~50, the text.py gram-key pattern. A
    collision only MERGES two buckets (never splits), so no candidate
    is lost; the only behavioral risk is a merged bucket crossing
    ``max_span_docs`` and being dropped, needing two distinct spans of
    the ~4e5-gram corpus to collide: P ≈ (4e5)²/2/2^64 ≈ 4e-9, and
    exact verification culls any spurious pair a merge adds."""
    from csv_query_engine_spark.pipeline.text import _ngram_rows

    spans = _ngram_rows(toks, span_n).select("id", F.xxhash64("g").alias("g")).distinct()
    groups = (
        spans.groupBy("g")
        .agg(F.sort_array(F.collect_list("id")).alias("ids"))
        .filter((F.size("ids") >= 2) & (F.size("ids") <= max_span_docs))
    )
    return (
        _spread(groups)
        .select(F.explode(_in_bucket_pairs(F.col("ids"))).alias("p"))
        .select(F.col("p.id_a"), F.col("p.id_b"))
        .distinct()
    )


def near_dup_clusters(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    span_n: int = 8,
    ngram_n: int = 3,
    max_span_docs: int = 64,
) -> DataFrame:
    """End-to-end near-dup clustering: span-blocked candidates → exact
    word-``ngram_n``-gram Jaccard verification ≥ threshold → connected
    components → (doc_id, cluster_id, cluster_size, is_survivor).
    The canonicalization step every dedup pipeline ends with: transitive
    near-dup chains (A≈B, B≈C) collapse to ONE survivor even when A and
    C are not directly similar. Fully deterministic, so the DuckDB twin
    (recursive CTE over the same edge set) verifies it end to end.
    Components come from min-label propagation (O(diameter) rounds —
    right for the shallow clumps real near-dup graphs form)."""
    from pyspark.storagelevel import StorageLevel

    from csv_query_engine_spark.pipeline.text import _ngram_rows

    # The token table feeds both the span blocker and the gram build;
    # the gram table feeds both sides of the verify join — persist each
    # once (persist-once invariant; cache lifetime caller-owned, see
    # minhash_lsh_pairs). The gram arrays are built by exploding the
    # position index and aggregating hashed grams (codegen'd concat_ws +
    # xxhash64 + map-side collect_set), NOT by a per-row transform()
    # over slices — the interpreted-HOF trap _ngram_rows documents.
    # Verification runs on the hashed arrays: long intersects are
    # several× cheaper than string intersects and a collision inflating
    # one intersection is ~|A|·|B|/2^64 ≈ 5e-15 — the same trade
    # minhash_lsh_pairs documents. Sub-``ngram_n`` docs have no grams
    # and drop out of the verify join, which is sound: they cannot
    # share a ``span_n``-gram either, so they are never candidates.
    toks = _spread(df.select(F.col(id_col).alias("id"), tokens(F.col(text_col)).alias("toks"))).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    cand = _span_candidates_from_toks(toks, span_n, max_span_docs)
    grams = (
        _ngram_rows(toks, ngram_n)
        .select("id", F.xxhash64("g").alias("gh"))
        .groupBy("id")
        .agg(F.collect_set("gh").alias("grams"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    edges = (
        cand.join(grams.select(F.col("id").alias("id_a"), F.col("grams").alias("grams_a")), "id_a")
        .join(grams.select(F.col("id").alias("id_b"), F.col("grams").alias("grams_b")), "id_b")
        .filter(jaccard(F.col("grams_a"), F.col("grams_b")) >= threshold)
        .select("id_a", "id_b")
    )
    labels = connected_components(df.select(F.col(id_col).alias("id")), edges)
    sizes = labels.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("cluster_size"))
    return (
        labels.join(sizes, "cluster_id")
        .select(
            F.col("id").alias(id_col),
            "cluster_id",
            "cluster_size",
            (F.col("id") == F.col("cluster_id")).alias("is_survivor"),
        )
    )


# ---------------------------------------------------------------- SimHash


def _simhash64(texts) -> "pd.Series":  # noqa: F821 - pandas imported lazily
    """Vectorized 64-bit SimHash: md5-derived 64-bit hash per token,
    bit-position majority vote. Deterministic (md5), no engine-specific
    hashing.

    NOTE: the worker-side twin of this logic lives INSIDE
    :func:`simhash_column`'s UDF so cloudpickle serializes it by value —
    executors' Python workers do not have this package importable, so
    nothing shipped to a worker may reference this module by name.
    """
    import hashlib

    import numpy as np
    import pandas as pd

    shifts = np.arange(64, dtype=np.uint64)
    out = np.zeros(len(texts), dtype=np.int64)
    for row, text in enumerate(texts):
        if not text:
            continue
        hs = np.fromiter(
            (int.from_bytes(hashlib.md5(tok.encode()).digest()[:8], "big") for tok in str(text).split()),
            dtype=np.uint64,
        )
        if hs.size == 0:
            continue
        # bit-position majority vote, vectorized: tokens × 64 bit lanes
        ones = ((hs[:, None] >> shifts) & np.uint64(1)).sum(axis=0)
        sig = int(((ones * 2 > hs.size).astype(np.uint64) << shifts).sum(dtype=np.uint64))
        # two's-complement into int64
        out[row] = sig - (1 << 64) if sig >= (1 << 63) else sig
    return pd.Series(out)


def simhash_column() -> Column:
    """Arrow-batched pandas UDF computing SimHash of normalized text.
    Python is justified here: the 64-lane majority vote has no built-in
    expression; the UDF is vectorized per Arrow batch, not per row.

    An explode + codegen'd-md5 form measured 2-3× slower warm at sf0.1
    and at 10× docs (BASELINE.md round 11), so this UDF is the only form.

    The UDF body is self-contained (imports + logic inline) so cloudpickle
    ships it by value — workers cannot import this package."""

    @F.pandas_udf(T.LongType())
    def simhash_udf(s):
        import hashlib

        import numpy as np
        import pandas as pd

        texts = s.fillna("")
        shifts = np.arange(64, dtype=np.uint64)
        out = np.zeros(len(texts), dtype=np.int64)
        for row, text in enumerate(texts):
            if not text:
                continue
            hs = np.fromiter(
                (int.from_bytes(hashlib.md5(tok.encode()).digest()[:8], "big") for tok in str(text).split()),
                dtype=np.uint64,
            )
            if hs.size == 0:
                continue
            ones = ((hs[:, None] >> shifts) & np.uint64(1)).sum(axis=0)
            sig = int(((ones * 2 > hs.size).astype(np.uint64) << shifts).sum(dtype=np.uint64))
            out[row] = sig - (1 << 64) if sig >= (1 << 63) else sig
        return pd.Series(out)

    return simhash_udf(normalize_text(F.col("text")))


def simhash_near_dup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) ≤ max_hamming.

    Blocking: split the 64-bit signature into 4×16-bit bands; any pair
    within Hamming ≤ 3 must agree exactly on ≥1 band (pigeonhole), so a
    band-equality join finds all of them without the quadratic compare.

    Shape: id-only buckets + a join BACK to the persisted signature
    table for Hamming verification. The struct-carrying alternative
    (collect (id, sig) structs per bucket so no join is needed) was
    measured SLOWER — 3.0-3.9 s vs 1.8-2.1 s warm at sf0.1 — because
    the struct collect_list + nested flatten/transform explode costs
    more than two hash joins against a cached one-long-per-doc table;
    the persist also guarantees the pandas-UDF signature stage runs
    exactly once. Cache lifetime is caller-owned (see
    minhash_lsh_pairs).
    """
    from pyspark.storagelevel import StorageLevel

    sigs = _spread(df).select(F.col(id_col).alias("id"), simhash_column().alias("sig")).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    bands = sigs.select(
        "id",
        F.explode(
            F.array(*[
                F.struct(F.lit(b).alias("band"), F.shiftrightunsigned("sig", b * 16).bitwiseAND(F.lit(0xFFFF)).alias("bucket"))
                for b in range(4)
            ])
        ).alias("be"),
    ).select("id", F.col("be.band").alias("band"), F.col("be.bucket").alias("bucket"))

    cand = (
        _spread(
            bands.groupBy("band", "bucket")
            .agg(F.sort_array(F.collect_list("id")).alias("ids"))
            .filter(F.size("ids") > 1)
        )
        .select(F.explode(_in_bucket_pairs(F.col("ids"))).alias("p"))
        .select(F.col("p.id_a"), F.col("p.id_b"))
        .distinct()
    )
    return (
        cand.join(sigs.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a")), "id_a")
        .join(sigs.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b")), "id_b")
        .select(
            "id_a",
            "id_b",
            F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )


def incremental_dedup(
    incoming: DataFrame,
    corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    span_n: int = 8,
    ngram_n: int = 3,
    max_span_docs: int = 64,
) -> DataFrame:
    """Admission screen for an incoming batch against an existing
    corpus — the shape every continuously-fed training pipeline runs
    (new crawl slice vs what's already ingested): per incoming doc a
    verdict ``admit`` / ``exact_dup`` / ``near_dup`` plus the existing
    doc it duplicates (−1 when admitted).

    * exact: md5 fingerprint equality (dup_of = min matching corpus id).
    * near: shares a word ``span_n``-gram with a corpus doc AND exact
      word-``ngram_n``-gram Jaccard ≥ threshold (dup_of = min such id,
      ties broken by id). Same deterministic blocker as
      :func:`near_dup_clusters`, restricted to incoming×corpus pairs.
    * precedence: exact > near > admit.

    Scale: the incoming batch is small relative to the corpus by
    construction, so its fingerprint and span sets broadcast; corpus
    text is touched only by the gram explode (linear, spread) and only
    grams that collide with an incoming span enter the candidate join.
    Nothing quadratic in the corpus, no corpus self-pairs.
    """
    inc = _spread(incoming.select(F.col(id_col).alias("id"), F.col(text_col).alias("_t")))
    cor = _spread(corpus.select(F.col(id_col).alias("id"), F.col(text_col).alias("_t")))

    # exact: fingerprint equi-join, min corpus id per fingerprint
    inc_fp = inc.select("id", fingerprint(F.col("_t")).alias("fp"))
    cor_fp = cor.select(F.col("id").alias("cid"), fingerprint(F.col("_t")).alias("fp"))
    exact = (
        inc_fp.join(cor_fp.groupBy("fp").agg(F.min("cid").alias("exact_of")), "fp")
        .select("id", "exact_of")
    )

    # near: span-blocked incoming×corpus candidates, exact-Jaccard verify
    from csv_query_engine_spark.pipeline.text import _ngram_rows

    # Materialize the multi-consumer subtrees ONCE (the persist-once
    # invariant): each token table feeds its span explode AND its gram
    # build (2 consumers), and ``cand`` feeds two leftsemi prunes plus
    # the verify join (3 consumers) — un-materialized, the span-explode
    # pipeline re-ran ~3× and this was the heaviest query in the suite
    # (14.3 s in-suite warm; ~2× isolated-vs-in-suite spread from the
    # recompute paying differently under cache pressure). persist (SQL
    # columnar cache), not localCheckpoint: compressed batches +
    # codegen'd InMemoryTableScan measured ~2× faster for repeated
    # scans of array-heavy rows. Cache lifetime is caller-owned (see
    # minhash_lsh_pairs).
    from pyspark.storagelevel import StorageLevel

    inc_toks = inc.select("id", tokens(F.col("_t")).alias("toks")).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    cor_toks = cor.select("id", tokens(F.col("_t")).alias("toks")).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    # Pin both token caches before the span/gram branches fan out as
    # independent leaf jobs (cache-race rule).
    _pin(inc_toks)
    _pin(cor_toks)
    # Span join keyed on xxhash64(gram) — 8-byte keys, same collision
    # math as _span_candidates_from_toks.
    inc_spans = _ngram_rows(inc_toks, span_n).select("id", F.xxhash64("g").alias("g")).distinct()
    cor_spans = _ngram_rows(cor_toks, span_n).select("id", F.xxhash64("g").alias("g")).distinct()
    span_caps = cor_spans.groupBy("g").agg(F.count(F.lit(1)).alias("n_docs"))
    cand = (
        inc_spans.withColumnRenamed("id", "id_in")
        .join(cor_spans.withColumnRenamed("id", "id_cor"), "g")
        .join(span_caps.filter(F.col("n_docs") <= max_span_docs), "g")
        .select("id_in", "id_cor")
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # Pin: `cand` feeds two semi-join prunes plus the verify join — all
    # independent leaf jobs that re-ran the span pipeline cold.
    _pin(cand)
    # Build hashed gram arrays (explode-index + codegen'd concat_ws +
    # collect_set — not the interpreted per-row transform) ONLY for docs
    # that appear in a candidate pair: a semi-join first, so the gram
    # build scales with candidates, not the corpus.
    inc_grams = (
        _ngram_rows(
            inc_toks.join(cand.select(F.col("id_in").alias("id")).distinct(), "id", "leftsemi"),
            ngram_n,
        )
        .select("id", F.xxhash64("g").alias("gh"))
        .groupBy("id")
        .agg(F.collect_set("gh").alias("grams_in"))
        .withColumnRenamed("id", "id_in")
    )
    cor_grams = (
        _ngram_rows(
            cor_toks.join(cand.select(F.col("id_cor").alias("id")).distinct(), "id", "leftsemi"),
            ngram_n,
        )
        .select("id", F.xxhash64("g").alias("gh"))
        .groupBy("id")
        .agg(F.collect_set("gh").alias("grams_cor"))
        .withColumnRenamed("id", "id_cor")
    )
    near = (
        cand.join(inc_grams, "id_in")
        .join(cor_grams, "id_cor")
        .filter(jaccard(F.col("grams_in"), F.col("grams_cor")) >= threshold)
        .groupBy(F.col("id_in").alias("id"))
        .agg(F.min("id_cor").alias("near_of"))
    )

    return (
        inc.select("id")
        .join(exact, "id", "left")
        .join(near, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.when(F.col("exact_of").isNotNull(), F.lit("exact_dup"))
            .when(F.col("near_of").isNotNull(), F.lit("near_dup"))
            .otherwise(F.lit("admit"))
            .alias("verdict"),
            F.coalesce(F.col("exact_of"), F.col("near_of"), F.lit(-1)).cast("long").alias("dup_of"),
        )
    )


# --------------------------------------------- AllPairs prefix filtering


def _persisted_gram_hashes(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """(id, gh): one row per distinct word n-gram of each doc, keyed by
    its 8-byte xxhash64 — the persisted input of both AllPairs faces
    (4 consumers: frequency counts, doc sizes, prefix ranks,
    verification arrays). Cache lifetime is caller-owned."""
    from pyspark.storagelevel import StorageLevel

    return (
        _spread(df)
        .select(F.col(id_col).alias("id"), tokens(F.col(text_col)).alias("_toks"))
        .select("id", F.explode(token_ngrams(F.col("_toks"), n)).alias("_g"))
        .select("id", F.xxhash64("_g").alias("gh"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )


def _rarest_first_prefix(g: DataFrame, threshold: float) -> DataFrame:
    """(id, gh) prefix rows of an (id, gh) table: each doc's first
    |A| − ceil(t·|A|) + 1 grams in the global rarest-first order (ties
    broken by hash). Ranking is an id-partitioned window, never
    unpartitioned."""
    from pyspark.sql import Window as W

    cnt = g.groupBy("gh").agg(F.count(F.lit(1)).alias("_c"))
    sizes = g.groupBy("id").agg(F.count(F.lit(1)).alias("_sz"))
    prefix_len = F.col("_sz") - F.ceil(F.lit(threshold) * F.col("_sz")) + 1
    return (
        g.join(cnt, "gh")
        .join(sizes, "id")  # id-keyed, co-partitioned with the window below
        .withColumn(
            "_rk",
            F.row_number().over(W.partitionBy("id").orderBy(F.col("_c"), F.col("gh"))),
        )
        .filter(F.col("_rk") <= prefix_len)
        .select("id", "gh")
    )


def allpairs_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """EXACT n-gram Jaccard pairs ≥ threshold via prefix filtering
    (AllPairs — Bayardo, Ma & Srikant, WWW'07): the third member of the
    similarity-join family — same exact output as the quadratic
    :func:`ngram_jaccard_pairs` (it shares that query's DuckDB oracle),
    same pruned pair space as :func:`minhash_lsh_pairs` but with zero
    false negatives and no signature tuning.

    The filter: order every doc's gram set by GLOBAL gram frequency
    (rarest first — the canonical order that minimizes candidate
    fan-out); J(A,B) ≥ t implies |A∩B| ≥ ceil(t·|A|), so any
    qualifying pair must collide inside each side's first
    |A| − ceil(t·|A|) + 1 grams.  Only those prefix grams enter the
    candidate self-join — frequent grams (the quadratic killers) sit at
    the suffix end and never generate candidates.

    Plan: the hashed distinct-gram table persists once (4 consumers:
    frequency counts, doc sizes, prefix ranks, verification arrays);
    prefix ranking is an id-partitioned window (never unpartitioned);
    the candidate join keys on the 8-byte gram hash (repo convention —
    collision odds documented in minhash_lsh_pairs) and dedups on
    (id_a, id_b); verification joins the persisted hashed-gram arrays
    and keeps exact-Jaccard survivors.  At corpus scale the win over
    the quadratic form is the prefix cut; against LSH it trades the
    banded shuffle for exactness.
    Cache lifetime is CALLER-OWNED — wrap the call in
    ``pipeline.cache_scope(spark)`` to release the persisted
    intermediates on exit (the one library-wide convention)."""
    g = _persisted_gram_hashes(df, id_col, text_col, n)
    # Pin: `g` feeds the gram-count aggregate, the doc-size aggregate,
    # the prefix join and the candidate join-back — four independent
    # leaf jobs that each re-ran the tokenize+explode cold (cache-race
    # rule).
    _pin(g)
    ranked = _rarest_first_prefix(g, threshold)
    cand = (
        ranked.select(F.col("id").alias("id_a"), "gh")
        .join(ranked.select(F.col("id").alias("id_b"), "gh"), "gh")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    arrays = g.groupBy("id").agg(F.collect_set("gh").alias("_ga"))
    return (
        cand.join(arrays.select(F.col("id").alias("id_a"), F.col("_ga").alias("_gaa")), "id_a")
        .join(arrays.select(F.col("id").alias("id_b"), F.col("_ga").alias("_gab")), "id_b")
        .select("id_a", "id_b", jaccard(F.col("_gaa"), F.col("_gab")).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """EXACT n-gram containment pairs — the ASYMMETRIC member of the
    similarity-join family: ordered pairs (id_a, id_b) with

        C(A→B) = |grams(A) ∩ grams(B)| / |grams(A)| ≥ threshold

    i.e. doc A's content is (nearly) a subset of doc B's. This is the
    quote/extract/boilerplate-page detector Jaccard cannot express: a
    short doc fully quoted inside a long one has containment 1.0 but
    Jaccard ≈ |A|/|B| → 0, so symmetric dedup never pairs them.

    Prefix filter, containment form (the AllPairs machinery of
    :func:`allpairs_jaccard_pairs` with the bound on the CONTAINED
    side only): C ≥ t implies |A∩B| ≥ ceil(t·|A|), so a qualifying
    pair must collide inside A's first |A| − ceil(t·|A|) + 1 grams in
    the global rarest-first order. The container side carries no such
    bound (any superset qualifies), so A's prefix probes the FULL
    (id, gram) table — still never all-pairs: frequent grams sit past
    every prefix and generate no candidates, and the probe volume is
    Σ df(g) over prefix grams (rare by construction). Verification is
    the exact set intersection over the persisted per-doc gram arrays.

    Scale: identical budget to the Jaccard AllPairs — one persisted
    hashed-gram table (4 consumers), id-partitioned prefix window,
    8-byte gram-hash candidate join, bounded verify. Containment is an
    integer ratio (identical doubles cross-engine).
    Cache lifetime is CALLER-OWNED — wrap the call in
    ``pipeline.cache_scope(spark)`` to release the persisted
    intermediates on exit (the one library-wide convention)."""
    g = _persisted_gram_hashes(df, id_col, text_col, n)
    prefix = _rarest_first_prefix(g, threshold)
    cand = (
        prefix.select(F.col("id").alias("id_a"), "gh")
        .join(g.select(F.col("id").alias("id_b"), "gh"), "gh")
        .filter(F.col("id_a") != F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    arrays = g.groupBy("id").agg(F.collect_set("gh").alias("_ga"))
    containment = F.when(
        F.size("_gaa") > 0,
        F.size(F.array_intersect(F.col("_gaa"), F.col("_gab"))).cast("double")
        / F.size("_gaa").cast("double"),
    ).otherwise(F.lit(0.0))
    return (
        cand.join(arrays.select(F.col("id").alias("id_a"), F.col("_ga").alias("_gaa")), "id_a")
        .join(arrays.select(F.col("id").alias("id_b"), F.col("_ga").alias("_gab")), "id_b")
        .select("id_a", "id_b", containment.alias("containment"))
        .filter(F.col("containment") >= threshold)
    )
