"""Deterministic sampling and dataset splitting for corpus curation.

No reference code exists for this (the reference has no sampling; grep
verified — SURVEY.md §7 phase 6 extension).  These are the
train/val/test-assignment and subsampling primitives a 100 TB training
pipeline needs, built on **content hashing instead of RNG** so the
assignment is:

* reproducible across runs, engines, and cluster sizes (no seed state,
  no partition-order dependence — ``rand()`` is neither);
* stable under data growth: a document keeps its split forever, so
  re-running ingestion never leaks yesterday's train docs into test;
* embarrassingly parallel: bucket assignment is a narrow per-row map
  (md5 + modulo), no shuffle — at 100 TB it rides the scan.

The hash is the first 8 hex chars of ``md5(salt || key)`` read as an
unsigned 32-bit int.  Both Spark (``conv(x, 16, 10)``) and ANSI/DuckDB
(``CAST('0x'||x AS BIGINT)``) evaluate it identically, which is what
makes the oracle twins in queries/pipeline_q.py exact.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

__all__ = [
    "hash_bucket",
    "assign_split",
    "stratified_fixed_sample",
    "deterministic_sample",
    "token_budget_sample",
    "temperature_mix_weights",
    "weighted_sample_topk",
]


def hash_bucket(key: Column, n_buckets: int = 100, salt: str = "split-") -> Column:
    """Uniform deterministic bucket in ``[0, n_buckets)`` from a key column.

    ``conv`` parses the 8-hex-char md5 prefix as an unsigned 32-bit value
    (max 0xFFFFFFFF fits a long); the modulo is then bias-free to ~1e-8
    for n_buckets ≤ 10^4.  Changing ``salt`` re-draws the assignment —
    use distinct salts for independent decisions (split vs subsample) so
    they don't correlate.
    """
    hex8 = F.substring(F.md5(F.concat(F.lit(salt), key.cast("string"))), 1, 8)
    return (F.conv(hex8, 16, 10).cast("long") % n_buckets).alias("bucket")


def assign_split(
    key: Column,
    boundaries: tuple[tuple[str, int], ...] = (("train", 80), ("val", 90), ("test", 100)),
    n_buckets: int = 100,
    salt: str = "split-",
) -> Column:
    """Label each row with its dataset split by hash bucket.

    ``boundaries`` are (name, exclusive-upper-bucket) pairs in ascending
    order; the default is the classic 80/10/10.  Pure per-row expression
    — composes into any plan without a shuffle or a UDF.
    """
    b = hash_bucket(key, n_buckets, salt)
    expr = F.when(b < boundaries[0][1], boundaries[0][0])
    for name, upper in boundaries[1:-1]:
        expr = expr.when(b < upper, name)
    return expr.otherwise(boundaries[-1][0]).alias("split")


def deterministic_sample(df: DataFrame, key: Column, fraction: float, salt: str = "sample-") -> DataFrame:
    """Keep a deterministic ~``fraction`` of rows by hash threshold.

    Unlike ``df.sample`` this is stable across runs and engines, and a
    row's membership never changes as the corpus grows — the property
    that makes incremental 100 TB re-ingestion idempotent.  Narrow op:
    the filter pushes to the scan stage, no shuffle.
    """
    n = 1_000_000
    return df.filter(hash_bucket(key, n, salt) < int(round(fraction * n)))


def stratified_fixed_sample(
    df: DataFrame,
    stratum: str,
    key: Column,
    k: int,
    salt: str = "strat-",
) -> DataFrame:
    """Exactly ``min(k, |stratum|)`` rows per stratum, chosen by smallest
    content hash — a deterministic reservoir sample.

    Implementation: rank by (md5-hash, key) within each stratum and keep
    rank ≤ k; the key tiebreaker makes the order total, so the selection
    is unique.  Adds ``sample_rank``.

    Scale: one shuffle on ``stratum``.  Spark's window TopK does NOT
    fully sort each stratum: rank-limit plans push a per-partition
    ``WindowGroupLimit`` (top-k heap) before the shuffle, so a 10^9-row
    stratum moves only ~k·partitions rows.  Skewed strata therefore cost
    map-side work, not a giant sort.  For k in the millions prefer a
    two-pass quantile-threshold on the hash instead.
    """
    h = F.md5(F.concat(F.lit(salt), key.cast("string")))
    rank = F.row_number().over(W.partitionBy(stratum).orderBy(h, key))
    return df.withColumn("sample_rank", rank).filter(F.col("sample_rank") <= k)


def stratified_fixed_sample_threshold(
    df: DataFrame,
    stratum: str,
    key: Column,
    k: int,
    salt: str = "strat-",
    margin: float = 4.0,
) -> DataFrame:
    """The large-``k`` scale path :func:`stratified_fixed_sample`'s
    docstring promises — SAME output (bit-identical selection and
    ``sample_rank``), different plan: instead of ranking every row, a
    hash-threshold PREFILTER bounds the window's input to ~margin·k
    rows per stratum, so a k in the millions never moves k·partitions
    rows through the rank.

    Two passes: (1) per-stratum counts (one agg); (2) rows whose
    uniform-from-md5 position falls under ``margin·k/n`` survive the
    prefilter (strata with n ≤ margin·k skip it entirely), then the
    exact (hash, key) rank runs among survivors only.  The selection
    equals the full ranking's top-k iff no stratum lost a true top-k
    row to the prefilter; that holds unless the k-th smallest of n
    uniform hashes exceeds margin·k/n — P ≤ exp(−k·(margin−1)²/(2·margin))
    (Chernoff), ~1e-7 per stratum at k=32, margin=4 — and the
    GUARD enforces it: any oversized stratum with fewer than
    min(k, n) survivors RAISES (raise ``margin``), never a silently
    short sample (the no-silent-caps rule).

    Scale: pass 1 is a count agg; pass 2's shuffle carries only
    survivors (~margin·k per stratum).  The md5 idiom keeps the
    selection re-derivable cross-engine, so the oracle twin is the
    plain ROW_NUMBER form.

    ``ranked`` persists before the shortfall-guard collect — the guard
    is a materializing action over the full prefilter+window pipeline,
    and without the persist the caller's execution re-ran it from
    scratch, doubling the cost of the scale path (ADVICE round 11; the
    exact_quantile_values persisted-descent pattern).  Cache lifetime
    is CALLER-OWNED — wrap in ``pipeline.cache_scope``."""
    from pyspark.storagelevel import StorageLevel

    hexs = F.md5(F.concat(F.lit(salt), key.cast("string")))
    # uniform position in [0, 1) from the first 8 hex chars (the module
    # idiom) — used ONLY for the prefilter; the exact rank below orders
    # by the full digest so the selection matches stratified_fixed_sample
    u = F.conv(F.substring(hexs, 1, 8), 16, 10).cast("double") / F.lit(4294967296.0)
    counts = df.groupBy(stratum).agg(F.count(F.lit(1)).alias("_n"))
    thr = F.least(F.lit(1.0), F.lit(float(margin) * k) / F.col("_n").cast("double"))
    pre = (
        df.join(counts, stratum)
        .withColumn("_u", u)
        .filter((F.col("_n") <= F.lit(int(margin * k))) | (F.col("_u") < thr))
    )
    ranked = pre.withColumn(
        "sample_rank",
        F.row_number().over(W.partitionBy(stratum).orderBy(hexs, key)),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    # guard: an oversized stratum must retain min(k, n) rows — count the
    # survivors once (bounded: ≤ margin·k per stratum) and raise on any
    # shortfall instead of emitting a silently short sample.  The check
    # joins FROM the all-strata counts side (round-12 fix): a stratum
    # the prefilter emptied ENTIRELY has no survivor group at all and a
    # survivors-side aggregate would never see it — the worst shortfall
    # was the one invisible to the old guard.
    kept_stats = ranked.groupBy(stratum).agg(F.count(F.lit(1)).alias("_kept"))
    short = (
        counts.join(kept_stats, stratum, "left")
        .withColumn("_kept", F.coalesce(F.col("_kept"), F.lit(0)))
        .filter(F.col("_kept") < F.least(F.lit(k), F.col("_n")))
        .limit(1)
        .collect()
    )
    if short:
        r = short[0]
        raise ValueError(
            f"stratified_fixed_sample_threshold: stratum {r[stratum]!r} kept "
            f"{r['_kept']} of the min(k={k}, n={r['_n']}) required survivors — "
            f"the hash prefilter undershot; raise margin (={margin})"
        )
    return ranked.filter(F.col("sample_rank") <= k).drop("_n", "_u")


def token_budget_sample(
    df: DataFrame,
    stratum: str,
    key: Column,
    weight: Column,
    budget: int,
    salt: str = "mix-",
) -> DataFrame:
    """Select documents per stratum up to a token budget — the "compose
    a training mix" primitive (e.g. 2 B tokens per language with fixed
    per-source ratios).

    Rows are ordered within each stratum by (content hash, key) — a
    deterministic uniform shuffle — and kept while the running sum of
    ``weight`` (token count) stays ≤ ``budget``.  The first document
    that would overflow the budget is dropped along with the rest of
    its stratum's tail, so the selected set is a fixed, reproducible
    function of content: re-ingestion, engine swaps, and corpus growth
    never change a kept doc's membership ordering (new docs slot into
    the hash order; membership changes only where the budget boundary
    moves — the same stability class as :func:`stratified_fixed_sample`).

    Adds ``cum_tokens`` (running total including the current row).

    Scale: one shuffle on ``stratum`` + a per-stratum sort for the
    running sum (no WindowGroupLimit shortcut exists for SUM frames).
    For strata where even the sort is too big, use
    :func:`token_budget_sample_threshold` (round 12) — a hash-threshold
    prefilter bounds the sort to ~margin·budget weight per stratum and
    the selection is bit-identical; this exact version is its
    oracle-checkable ground truth.
    """
    h = F.md5(F.concat(F.lit(salt), key.cast("string")))
    w = (
        W.partitionBy(stratum)
        .orderBy(h, key)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        df.withColumn("cum_tokens", F.sum(weight).over(w))
        .filter(F.col("cum_tokens") <= budget)
    )


def token_budget_sample_threshold(
    df: DataFrame,
    stratum: str,
    key: Column,
    weight: Column,
    budget: int,
    salt: str = "mix-",
    margin: float = 4.0,
) -> DataFrame:
    """The large-stratum scale path :func:`token_budget_sample`'s
    docstring promises (round 12; the fixed-k precedent is
    :func:`stratified_fixed_sample_threshold`) — SAME output
    (bit-identical selection AND ``cum_tokens``), different plan: a
    hash-threshold PREFILTER bounds the running-sum window's input to
    ~``margin·budget`` token mass per stratum, so a stratum with 10⁹
    docs and a 10⁶-token budget never sorts more than the prefilter
    survivors.

    Two passes: (1) per-stratum token totals (one agg); (2) rows whose
    uniform-from-md5 position ``u`` falls under ``margin·budget/total``
    survive (strata with total ≤ margin·budget skip the prefilter), then
    the exact running-sum window runs among survivors only.

    Completeness is PROVEN by the guard, not assumed: ``u`` (the first
    8 hex chars of the SAME md5 the exact form orders by) is monotone
    in the full-hex sort order, so each stratum's survivor set is a
    hash-order PREFIX (up to u-ties, which only ADD survivors).  If
    some survivor OVERFLOWS the budget (cum_tokens > budget), every row
    the full form keeps sorts before that survivor and therefore also
    survived — the window's running sums among survivors equal the full
    form's exactly.  The GUARD enforces that premise: any prefiltered
    stratum whose survivors neither overflow the budget nor include ALL
    its rows RAISES (raise ``margin``) — never a silently short mix.
    Unlike the fixed-k sampler's Chernoff bound, the undershoot odds
    here depend on weight dispersion (survivor mass concentrates at
    margin·budget, so failure needs the u-prefix's token mass to run
    ~margin× under expectation — keep max doc weight ≪ budget).

    ``ranked`` persists before the guard's materializing aggregate
    (the stratified-threshold ADVICE lesson); cache lifetime is
    CALLER-OWNED — wrap in ``pipeline.cache_scope``."""
    from pyspark.storagelevel import StorageLevel

    hexs = F.md5(F.concat(F.lit(salt), key.cast("string")))
    u = F.conv(F.substring(hexs, 1, 8), 16, 10).cast("double") / F.lit(4294967296.0)
    totals = df.groupBy(stratum).agg(
        F.sum(weight.cast("long")).alias("_tw"), F.count(F.lit(1)).alias("_n")
    )
    thr = F.least(F.lit(1.0), F.lit(float(margin) * budget) / F.col("_tw").cast("double"))
    pre = (
        df.join(totals, stratum)
        .withColumn("_u", u)
        .filter((F.col("_tw") <= F.lit(float(margin) * budget)) | (F.col("_u") < thr))
    )
    w = (
        W.partitionBy(stratum)
        .orderBy(hexs, key)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    ranked = pre.withColumn("cum_tokens", F.sum(weight).over(w)).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    # the guard joins FROM the all-strata totals (a stratum the
    # prefilter emptied entirely has no survivor group — the
    # stratified-threshold round-12 fix applies here from day one)
    kept_stats = ranked.groupBy(stratum).agg(
        F.max("cum_tokens").alias("_maxcum"), F.count(F.lit(1)).alias("_kept")
    )
    short = (
        totals.join(kept_stats, stratum, "left")
        .withColumn("_maxcum", F.coalesce(F.col("_maxcum"), F.lit(0)))
        .withColumn("_kept", F.coalesce(F.col("_kept"), F.lit(0)))
        .filter((F.col("_maxcum") <= F.lit(int(budget))) & (F.col("_kept") < F.col("_n")))
        .limit(1)
        .collect()
    )
    if short:
        r = short[0]
        raise ValueError(
            f"token_budget_sample_threshold: stratum {r[stratum]!r} kept "
            f"{r['_kept']}/{r['_n']} rows with max cum_tokens {r['_maxcum']} "
            f"<= budget {budget} — the hash prefilter cut the stratum before "
            f"the budget boundary; raise margin (={margin})"
        )
    return ranked.filter(F.col("cum_tokens") <= budget).drop("_tw", "_n", "_u")


def temperature_mix_weights(
    df: DataFrame,
    stratum: str,
    weight: Column,
    alpha: float = 0.7,
    budget: int | None = None,
) -> DataFrame:
    """Temperature-based mixture weights over strata (sources/langs):
    share_i ∝ m_i^alpha where m_i is the stratum's total weight (token
    mass).  alpha=1 reproduces natural proportions, alpha→0 uniform —
    the standard multilingual/source re-balancing rule for training
    mixes (e.g. the mBERT/XLM-R exponential-smoothing recipe).

    Cross-engine exactness: the masses are exact long sums; m^alpha is
    one libm pow per STRATUM (a handful of values — the tfidf-ln
    precedent); each powered mass is quantized with IEEE-only
    FLOOR(x*1e6 + 0.5) (never engine ROUND — CLAUDE.md) and the
    denominator is the exact long sum of the quantized values, so
    shares are identical double divisions.  With ``budget`` set, adds
    the integer token allocation FLOOR(budget * share).

    Scale: one partial+final aggregate on the stratum key; the share
    normalization is a broadcast of the one-row total."""
    from pyspark.storagelevel import StorageLevel

    masses = df.groupBy(stratum).agg(
        F.sum(weight.cast("long")).alias("stratum_mass")
    )
    # the stratum-sized powered-mass table feeds the denominator
    # aggregate AND the share projection — persist (tiny: one row per
    # stratum) or the corpus mass aggregate runs twice (round-14)
    q = masses.withColumn(
        "_q",
        F.floor(F.pow(F.col("stratum_mass").cast("double"), F.lit(alpha)) * F.lit(1e6) + F.lit(0.5)),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    denom = q.agg(F.sum("_q").alias("_d"))
    out = q.crossJoin(F.broadcast(denom)).select(
        stratum,
        F.col("stratum_mass"),
        (F.col("_q") / F.col("_d")).alias("mix_share"),
        *(
            [F.floor(F.lit(float(budget)) * (F.col("_q") / F.col("_d"))).cast("bigint").alias("target_tokens")]
            if budget is not None
            else []
        ),
    )
    return out


def weighted_sample_topk(
    df: DataFrame,
    stratum: str,
    key: Column,
    weight: Column,
    k: int,
    salt: str = "ws-",
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement, k per
    stratum (Efraimidis-Spirakis A-ES): each row draws u from its
    content hash and ranks by u^(1/w) — the top-k so ranked is a
    weighted sample without replacement, here derandomized by sourcing
    u from md5 like every sampler in this module (re-ingestion and
    engine swaps reproduce the selection).

    Cross-engine: u = (hash32+1)/2^32 is exact in both engines; the
    pow is one libm call per row (the tfidf-ln precedent); the ranking
    key is FLOOR-quantized to 1e-12 (IEEE-only — CLAUDE.md) with the
    row key as tiebreaker, so even a boundary collision orders
    identically in both engines.

    Scale: hash + pow ride the scan; per-stratum top-k is a window
    rank on the stratum key (WindowGroupLimit pushes the filter into
    the sort at execution) — one shuffle."""
    hex8 = F.substring(F.md5(F.concat(F.lit(salt), key.cast("string"))), 1, 8)
    u = (F.conv(hex8, 16, 10).cast("double") + F.lit(1.0)) / F.lit(4294967296.0)
    es_key = F.floor(F.pow(u, F.lit(1.0) / weight.cast("double")) * F.lit(1e12))
    rank = F.row_number().over(
        W.partitionBy(stratum).orderBy(F.col("_es").desc(), key)
    )
    return (
        df.withColumn("_es", es_key)
        .withColumn("sample_rank", rank)
        .filter(F.col("sample_rank") <= k)
        .drop("_es")
    )


def group_holdout_split(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    salt: str = "gh-",
) -> DataFrame:
    """(split, n_docs, n_groups, n_spanning_groups): train/val/test
    assignment keyed on the content-fingerprint GROUP, not the row —
    every exact duplicate of a document lands in the same split BY
    CONSTRUCTION, so the train→test contamination that
    docs_split_leakage_audit DETECTS after the fact cannot occur.
    ``n_spanning_groups`` is the self-certifying proof column: the
    number of fingerprint groups whose members span >1 split, zero by
    construction (identical fingerprint ⇒ identical bucket).

    The group key is md5 of the normalized text (the exact-dedup
    fingerprint, pipeline/text.py); the bucket is the repo's
    cross-engine md5 idiom with its own salt (independent of the
    row-level split's 'doc-' salt, so the two assignments are
    uncorrelated decisions).

    Scale: one per-row fingerprint+bucket projection (no shuffle), one
    (split) aggregate with a distinct-group count, and one group-keyed
    aggregate for the spanning proof — two shuffles keyed on the 16-byte
    fingerprint, linear. This is the splitter a dedup-aware training
    pipeline uses INSTEAD of the row-hash split when near-dups are
    known to exist."""
    from csv_query_engine_spark.pipeline.text import normalize_text

    from pyspark.storagelevel import StorageLevel

    fp = df.select(
        F.col(id_col).alias("id"),
        F.md5(normalize_text(F.col(text_col))).alias("fp"),
    )
    # feeds the per-split aggregate AND the spanning proof — persist
    # once or the normalize+md5 projection runs twice (round-14)
    bucketed = fp.select("id", "fp", assign_split(F.col("fp"), salt=salt)).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    per_split = bucketed.groupBy("split").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.countDistinct("fp").cast("long").alias("n_groups"),
    )
    spanning = (
        bucketed.groupBy("fp")
        .agg(F.countDistinct("split").alias("_ns"))
        .agg(
            F.coalesce(F.sum(F.when(F.col("_ns") > 1, 1)), F.lit(0))
            .cast("long")
            .alias("n_spanning_groups")
        )
    )
    return (
        per_split.crossJoin(F.broadcast(spanning))  # 1-row broadcast
        .select("split", "n_docs", "n_groups", "n_spanning_groups")
        .orderBy("split")
    )


def token_budget_waterfill(
    df: DataFrame,
    group_col: str,
    weight: Column,
    budget: int,
    max_groups: int = 4096,
) -> DataFrame:
    """Per-group token caps by WATER-FILLING: the largest integer level
    L such that Σ_g min(n_g, L) ≤ budget, then each group is allocated
    min(n_g, L) — the mix-design primitive that answers "given a total
    token budget, how much of each domain do we take so no domain
    dominates?" (proportional-to-cap allocation; small domains keep
    everything, big domains are clipped at one shared level — the
    flat-cap companion to :func:`temperature_mix_weights`' smooth
    reweighting).  One row per group: (group_col, n_tokens, level,
    allocated, capped); when budget ≥ Σ n_g the level is max(n_g) and
    nothing is capped.

    Determinism/cross-engine: everything is exact integer arithmetic —
    per-group totals are long sums, the per-segment candidate level is
    integer division of non-negative longs (negative numerators clamp
    to -1 BEFORE the division on both engines, so Spark's
    truncate-toward-zero ``DIV`` and DuckDB's ``//`` only ever see the
    agreeing non-negative domain), and the chosen level is the
    first-valid-segment minimum — no floats anywhere.

    Scale: one shuffle for the per-group totals (map-side combine; the
    output is DOMAIN-cardinality, not corpus-cardinality); the prefix
    sums over the bounded group table ride the triangular broadcast
    self-join (the vocab_coverage idiom — never an unpartitioned
    window), and the level is a 1-row broadcast back onto the groups.
    Nothing downstream of the first aggregate touches corpus rows; to
    APPLY the caps, join the (group, allocated) output back and run
    :func:`token_budget_sample_allocated` with the output.  The
    group table feeds four consumers (two triangular legs, the totals
    aggregate, the level scan) → persisted once; cache lifetime is
    CALLER-OWNED via ``pipeline.cache_scope`` (the library-wide
    convention).

    The triangular prefix join is O(G²) pairs, so ``max_groups``
    guards it (RAISES past the bound via a limit probe — the
    `_bounded_query_rows` convention, never a silent truncate): the op
    is a mix DESIGNER over domains/languages/sources, not a per-key
    aggregate; pre-aggregate finer keys before asking for a level
    across millions of groups (at G=4096 the join is ~1.7e7 pairs on a
    broadcast table — trivial; at G=10⁶ it would be 10¹² — wrong
    shape)."""
    from pyspark.storagelevel import StorageLevel

    g = (
        df.groupBy(F.col(group_col).alias("_g"))
        .agg(F.sum(weight).cast("long").alias("n"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    probe = g.limit(max_groups + 1).count()
    if probe > max_groups:
        g.unpersist()
        raise ValueError(
            f"token_budget_waterfill: more than max_groups={max_groups} distinct "
            f"'{group_col}' groups — the O(G²) triangular prefix join is the wrong "
            "shape at this cardinality; pre-aggregate to coarser domains or raise "
            "max_groups deliberately."
        )
    # prefix sums over the bounded group table: for each group, the
    # inclusive prefix `pfx` and rank `i` in (n, group) order via the
    # triangular broadcast self-join (strict total order — `i` IS
    # row_number, the vocab_coverage precedent)
    before = (F.col("b.n") < F.col("a.n")) | (
        (F.col("b.n") == F.col("a.n")) & (F.col("b._g") <= F.col("a._g"))
    )
    ranked = (
        g.alias("a")
        .join(F.broadcast(g.alias("b")), before)
        .groupBy(F.col("a._g").alias("_g"), F.col("a.n").alias("n"))
        .agg(F.count(F.lit(1)).alias("i"), F.sum("b.n").alias("pfx"))
    )
    totals = g.agg(F.count(F.lit(1)).alias("gg"), F.max("n").alias("mx"))
    c = ranked.crossJoin(F.broadcast(totals)).select(
        "_g",
        "n",
        "i",
        "mx",
        (F.lit(int(budget)).cast("long") - (F.col("pfx") - F.col("n"))).alias("_num"),
        (F.col("gg") - F.col("i") + F.lit(1)).cast("long").alias("_rem"),
    )
    # segment i's unconstrained level: floor((budget - prefix_before) /
    # groups_remaining); valid iff it undercuts the segment's own n —
    # the FIRST valid segment is the true water level (smaller i wins
    # via the (i, level) struct-min; empty → NULL → budget covers all)
    cand = F.when(F.col("_num") < 0, F.lit(-1).cast("long")).otherwise(
        F.expr("_num DIV _rem")
    )
    lvl = (
        c.filter(cand < F.col("n"))
        .agg(F.min(F.struct(F.col("i"), cand.alias("lv"))).alias("m"))
        .select(F.col("m.lv").alias("_level"))
    )
    level = F.coalesce(F.col("_level"), F.col("mx"))
    return (
        c.crossJoin(F.broadcast(lvl))  # 1-row broadcast
        .select(
            F.col("_g").alias(group_col),
            F.col("n").alias("n_tokens"),
            level.alias("level"),
            F.least(F.col("n"), level).alias("allocated"),
            (F.col("n") > level).alias("capped"),
        )
    )


def token_budget_sample_allocated(
    df: DataFrame,
    stratum: str,
    key: Column,
    weight: Column,
    allocations: DataFrame,
    salt: str = "mix-",
) -> DataFrame:
    """:func:`token_budget_sample` with PER-STRATUM budgets — the
    application half of :func:`token_budget_waterfill`: feed it the
    waterfill output (``allocations`` = any (stratum, allocated)
    DataFrame, one row per stratum) and the selection realizes the mix
    design end to end ("spend this total budget without letting any
    domain dominate" becomes an executable corpus filter).

    Selection semantics are identical to the scalar form per stratum —
    deterministic (content hash, key) order, running sum ≤ the
    stratum's own ``allocated`` — so each stratum's kept set equals
    ``token_budget_sample(df_stratum, ..., budget=allocated)``
    (pinned).  Strata ABSENT from ``allocations`` keep nothing (the
    complete-or-absent rule: a missing allocation is a decision, not a
    default).

    Scale: one shuffle on ``stratum`` + the per-stratum sort the
    scalar form already pays; the allocation table is
    domain-cardinality and broadcast onto the windowed rows — no
    second corpus pass."""
    h = F.md5(F.concat(F.lit(salt), key.cast("string")))
    w = (
        W.partitionBy(stratum)
        .orderBy(h, key)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    alloc = allocations.select(
        F.col(stratum).alias(stratum), F.col("allocated").cast("long").alias("_alloc")
    )
    return (
        df.withColumn("cum_tokens", F.sum(weight).over(w))
        .join(F.broadcast(alloc), stratum)
        .filter(F.col("cum_tokens") <= F.col("_alloc"))
        .drop("_alloc")
    )
