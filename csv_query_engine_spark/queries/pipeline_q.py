"""LLM-data-pipeline query registrations (dedup, similarity, text
analysis, multimodal) over the documents/embeddings tables.

Oracle notes: the DuckDB SQL mirrors the Spark expressions term-by-term
(same operation order) so double arithmetic is bit-identical; list ops
map array_intersect/union <-> list_intersect/distinct(concat), and the
Spark regex dialect (Java) vs DuckDB (RE2) differs only in escape
syntax. LSH/SimHash/ANN variants are genuinely non-SQL-expressible and
register without an oracle (driver runs the rows-only check); their
correctness is asserted in tests against brute-force ground truth.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from csv_query_engine_spark.io.readers import load_tables
from csv_query_engine_spark.pipeline import dedup as dd
from csv_query_engine_spark.pipeline import multimodal as mm
from csv_query_engine_spark.pipeline import sampling as smp
from csv_query_engine_spark.pipeline import similarity as sim
from csv_query_engine_spark.pipeline import text as tx
from csv_query_engine_spark.queries import REGISTRY, register

# SQL fragments mirroring pipeline.text (kept adjacent so drift is visible).
_SQL_NORM = "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))"
_SQL_TOKS = f"string_split({_SQL_NORM}, ' ')"
_SQL_NTOK = f"len({_SQL_TOKS})"


def _sql_stopword_hits(sw: tuple[str, ...]) -> str:
    lst = "[" + ", ".join(f"'{w}'" for w in sw) + "]"
    return f"len(list_filter({_SQL_TOKS}, t -> list_contains({lst}, t)))"


_SQL_PUNCT_RATIO = (
    "CASE WHEN length(text) > 0 THEN "
    "CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g')) AS DOUBLE)"
    " / CAST(length(text) AS DOUBLE) ELSE 0.0 END"
)

_SQL_SW_RATIO = (
    f"CASE WHEN {_SQL_NTOK} > 0 THEN "
    f"CAST({_sql_stopword_hits(tx.STOPWORDS_EN)} AS DOUBLE) / CAST({_SQL_NTOK} AS DOUBLE) ELSE 0.0 END"
)

_SQL_MTL = (
    f"CASE WHEN {_SQL_NTOK} > 0 THEN "
    f"CAST(list_sum(list_transform({_SQL_TOKS}, t -> length(t))) AS DOUBLE) / CAST({_SQL_NTOK} AS DOUBLE)"
    " ELSE 0.0 END"
)

_SQL_QUALITY = (
    f"(least(CAST({_SQL_NTOK} AS DOUBLE) / 100.0, 1.0) * 0.3"
    f" + (1.0 - least({_SQL_PUNCT_RATIO} * 4.0, 1.0)) * 0.3"
    f" + least({_SQL_SW_RATIO} * 4.0, 1.0) * 0.2"
    f" + (CASE WHEN {_SQL_MTL} >= 3.0 AND {_SQL_MTL} <= 10.0 THEN 1.0 ELSE 0.5 END) * 0.2)"
)


# ----------------------------------------------------------- text analysis


@register(
    "docs_text_stats_by_lang",
    f"""
    SELECT lang,
           COUNT(*) AS count,
           CAST(SUM({_SQL_NTOK}) AS DOUBLE) / COUNT(*) AS avg_tokens,
           CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars,
           CAST(SUM(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]'))) AS DOUBLE) / COUNT(*) AS avg_bpe_tokens
    FROM documents
    GROUP BY lang
    ORDER BY lang
    """,
)
def docs_text_stats_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token/char statistics per language tag — the budget query of a
    training-data pipeline (how many tokens do we have, per slice).
    Integer sums -> exact cross-engine averages."""
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    c = F.col("text")
    return (
        d.select("lang", tx.token_count(c).alias("nt"), F.col("n_chars"), tx.bpe_ish_token_count(c).alias("nb"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("count"),
            (F.sum("nt").cast("double") / F.count(F.lit(1))).alias("avg_tokens"),
            (F.sum("n_chars").cast("double") / F.count(F.lit(1))).alias("avg_chars"),
            (F.sum("nb").cast("double") / F.count(F.lit(1))).alias("avg_bpe_tokens"),
        )
        .orderBy("lang")
    )


@register(
    "docs_quality_scores",
    f"""
    SELECT doc_id,
           {_SQL_NTOK} AS n_tokens,
           {_SQL_PUNCT_RATIO} AS punct_ratio,
           {_SQL_SW_RATIO} AS stopword_ratio,
           {_SQL_QUALITY} AS quality_score
    FROM documents
    WHERE doc_id % 20 = 0
    ORDER BY doc_id
    """,
)
def docs_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality features + composite score (subset-gated for
    the oracle compare; the operator itself is a full-scan map)."""
    d = load_tables(spark, sf_dir, ("documents",))["documents"].filter(F.col("doc_id") % 20 == 0)
    c = F.col("text")
    staged = tx._spread(d.select("doc_id", "text")).select("doc_id", c, tx.tokens(c).alias("__toks"))
    t = F.col("__toks")
    return staged.select(
        "doc_id",
        F.size(t).alias("n_tokens"),
        tx.punct_ratio(c).alias("punct_ratio"),
        tx.stopword_ratio_t(t).alias("stopword_ratio"),
        tx.quality_score_t(c, t).alias("quality_score"),
    ).orderBy("doc_id")


@register(
    "docs_lang_id",
    f"""
    SELECT doc_id, lang,
           CASE
             WHEN length(regexp_replace(text, '[^\\x{{4e00}}-\\x{{9fff}}]', '', 'g')) > 0 THEN 'zh'
             WHEN greatest({_sql_stopword_hits(tx.STOPWORDS_EN)}, {_sql_stopword_hits(tx.STOPWORDS_ES)},
                           {_sql_stopword_hits(tx.STOPWORDS_DE)}, {_sql_stopword_hits(tx.STOPWORDS_FR)}) = 0 THEN 'unknown'
             WHEN {_sql_stopword_hits(tx.STOPWORDS_EN)} = greatest({_sql_stopword_hits(tx.STOPWORDS_EN)}, {_sql_stopword_hits(tx.STOPWORDS_ES)}, {_sql_stopword_hits(tx.STOPWORDS_DE)}, {_sql_stopword_hits(tx.STOPWORDS_FR)}) THEN 'en'
             WHEN {_sql_stopword_hits(tx.STOPWORDS_ES)} = greatest({_sql_stopword_hits(tx.STOPWORDS_EN)}, {_sql_stopword_hits(tx.STOPWORDS_ES)}, {_sql_stopword_hits(tx.STOPWORDS_DE)}, {_sql_stopword_hits(tx.STOPWORDS_FR)}) THEN 'es'
             WHEN {_sql_stopword_hits(tx.STOPWORDS_DE)} = greatest({_sql_stopword_hits(tx.STOPWORDS_EN)}, {_sql_stopword_hits(tx.STOPWORDS_ES)}, {_sql_stopword_hits(tx.STOPWORDS_DE)}, {_sql_stopword_hits(tx.STOPWORDS_FR)}) THEN 'de'
             ELSE 'fr'
           END AS lang_pred
    FROM documents
    WHERE doc_id % 20 = 0
    ORDER BY doc_id
    """,
)
def docs_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID (CJK char class, else stopword-set argmax).
    Tokens are materialized in a prior select so the 4 stopword scans
    share one tokenization (see pipeline.text.stopword_hits_t)."""
    d = load_tables(spark, sf_dir, ("documents",))["documents"].filter(F.col("doc_id") % 20 == 0)
    staged = tx._spread(d.select("doc_id", "lang", "text")).select(
        "doc_id", "lang", F.col("text"), tx.tokens(F.col("text")).alias("__toks")
    )
    return staged.select(
        "doc_id", "lang", tx.lang_id_t(F.col("text"), F.col("__toks")).alias("lang_pred")
    ).orderBy("doc_id")


@register(
    "docs_repetition_stats",
    f"""
    WITH d AS (
        SELECT doc_id, {_SQL_TOKS} AS toks FROM documents
    ),
    base AS (
        SELECT doc_id, toks, len(toks) AS n_tokens,
               CASE WHEN len(toks) >= 2
                    THEN list_transform(range(1, len(toks)),
                                        i -> array_to_string(list_slice(toks, i, i + 1), ' '))
                    ELSE [] END AS bigrams
        FROM d
    ),
    tok_top AS (
        SELECT doc_id, MAX(c) AS max_tok FROM (
            SELECT doc_id, g, COUNT(*) AS c
            FROM (SELECT doc_id, unnest(toks) AS g FROM base) GROUP BY doc_id, g
        ) GROUP BY doc_id
    ),
    bi_top AS (
        SELECT doc_id, MAX(c) AS max_bi FROM (
            SELECT doc_id, g, COUNT(*) AS c
            FROM (SELECT doc_id, unnest(bigrams) AS g FROM base) GROUP BY doc_id, g
        ) GROUP BY doc_id
    )
    SELECT base.doc_id,
           CAST(base.n_tokens AS BIGINT) AS n_tokens,
           ROUND(CAST(len(list_distinct(base.toks)) AS DOUBLE) / CAST(base.n_tokens AS DOUBLE), 6)
               AS distinct_ratio,
           ROUND(CAST(COALESCE(tok_top.max_tok, 0) AS DOUBLE) / CAST(base.n_tokens AS DOUBLE), 6)
               AS top_token_frac,
           CASE WHEN base.n_tokens >= 2
                THEN ROUND(CAST(COALESCE(bi_top.max_bi, 0) AS DOUBLE)
                           / CAST(base.n_tokens - 1 AS DOUBLE), 6)
                ELSE 0.0 END AS top_bigram_frac
    FROM base LEFT JOIN tok_top USING (doc_id) LEFT JOIN bi_top USING (doc_id)
    ORDER BY doc_id
    """,
)
def docs_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition/boilerplate signals per document
    (pipeline.text.repetition_stats): type-token ratio plus top-token
    and top-bigram mass fractions — the filters an LLM training pipeline
    applies before dedup."""
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    return tx.repetition_stats(d).orderBy("doc_id")


@register(
    "docs_contamination_overlap",
    f"""
    WITH d AS (
        SELECT doc_id, {_SQL_TOKS} AS toks FROM documents
    ),
    base AS (
        SELECT doc_id,
               list_distinct(CASE WHEN len(toks) >= 5
                    THEN list_transform(range(1, len(toks) - 3),
                                        i -> array_to_string(list_slice(toks, i, i + 4), ' '))
                    ELSE [] END) AS grams
        FROM d
    ),
    bench AS (
        SELECT DISTINCT unnest(grams) AS g FROM base WHERE doc_id % 101 = 0
    ),
    corpus AS (SELECT * FROM base WHERE doc_id % 101 <> 0),
    hits AS (
        SELECT cg.doc_id, COUNT(bench.g) AS n_hit
        FROM (SELECT doc_id, unnest(grams) AS g FROM corpus) cg
        LEFT JOIN bench ON cg.g = bench.g
        GROUP BY cg.doc_id
    )
    SELECT corpus.doc_id,
           CAST(len(corpus.grams) AS BIGINT) AS n_grams,
           CAST(COALESCE(hits.n_hit, 0) AS BIGINT) AS n_hit,
           CASE WHEN len(corpus.grams) > 0
                THEN ROUND(CAST(COALESCE(hits.n_hit, 0) AS DOUBLE)
                           / CAST(len(corpus.grams) AS DOUBLE), 6)
                ELSE 0.0 END AS contamination_frac
    FROM corpus LEFT JOIN hits USING (doc_id)
    ORDER BY doc_id
    """,
)
def docs_contamination_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination scan (pipeline.text.contamination_overlap):
    fraction of each training doc's distinct 5-grams found in the
    held-out benchmark slice (doc_id % 101 == 0) — the eval-leak check
    run before training."""
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    return tx.contamination_overlap(d).orderBy("doc_id")


_SQL_DRATIO = (
    f"CASE WHEN {_SQL_NTOK} > 0 THEN "
    f"CAST(len(list_distinct({_SQL_TOKS})) AS DOUBLE) / CAST({_SQL_NTOK} AS DOUBLE) ELSE 0.0 END"
)


@register(
    "docs_quality_filter",
    f"""
    SELECT doc_id,
           CAST({_SQL_NTOK} AS BIGINT) AS n_tokens,
           ({_SQL_NTOK} >= 25 AND {_SQL_NTOK} <= 120) AS ok_token_count,
           ({_SQL_MTL} >= 3.0 AND {_SQL_MTL} <= 10.0) AS ok_mean_token_len,
           ({_SQL_SW_RATIO} >= 0.02) AS ok_stopword_ratio,
           ({_SQL_DRATIO} >= 0.30) AS ok_distinct_ratio,
           (({_SQL_NTOK} >= 25 AND {_SQL_NTOK} <= 120)
            AND ({_SQL_MTL} >= 3.0 AND {_SQL_MTL} <= 10.0)
            AND ({_SQL_SW_RATIO} >= 0.02)
            AND ({_SQL_DRATIO} >= 0.30)) AS passes
    FROM documents
    ORDER BY doc_id
    """,
)
def docs_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style hard quality filter (pipeline.text.quality_filter):
    per-rule boolean flags + conjunctive verdict, so one scan serves
    both the filter and the per-rule rejection report."""
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    return tx.quality_filter(d).orderBy("doc_id")


@register(
    "docs_duplicate_span_fraction",
    f"""
    WITH d AS (
        SELECT doc_id, {_SQL_TOKS} AS toks FROM documents
    ),
    base AS (
        SELECT doc_id,
               list_distinct(CASE WHEN len(toks) >= 8
                    THEN list_transform(range(1, len(toks) - 6),
                                        i -> array_to_string(list_slice(toks, i, i + 7), ' '))
                    ELSE [] END) AS spans
        FROM d
    ),
    span_docs AS (
        SELECT g, COUNT(*) AS n_docs
        FROM (SELECT doc_id, unnest(spans) AS g FROM base) GROUP BY g
    ),
    stats AS (
        SELECT s.doc_id, COUNT(*) AS n_spans,
               SUM(CASE WHEN sd.n_docs >= 2 THEN 1 ELSE 0 END) AS n_dup
        FROM (SELECT doc_id, unnest(spans) AS g FROM base) s
        JOIN span_docs sd USING (g)
        GROUP BY s.doc_id
    )
    SELECT base.doc_id,
           CAST(COALESCE(stats.n_spans, 0) AS BIGINT) AS n_spans,
           CAST(COALESCE(stats.n_dup, 0) AS BIGINT) AS n_dup_spans,
           CASE WHEN COALESCE(stats.n_spans, 0) > 0
                THEN ROUND(CAST(COALESCE(stats.n_dup, 0) AS DOUBLE)
                           / CAST(stats.n_spans AS DOUBLE), 6)
                ELSE 0.0 END AS dup_frac
    FROM base LEFT JOIN stats USING (doc_id)
    ORDER BY doc_id
    """,
)
def docs_duplicate_span_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide duplicated-span screen (pipeline.text.
    duplicate_span_stats): fraction of each doc's distinct 8-word spans
    that occur in another document — the distributed approximation of
    exact-substring dedup (Lee et al. 2021)."""
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    return tx.duplicate_span_stats(d, n=8).orderBy("doc_id")


# ------------------------------------------------------------------ dedup


@register(
    "dedup_exact_docs",
    f"""
    SELECT md5({_SQL_NORM}) AS fingerprint,
           MIN(doc_id) AS doc_id,
           COUNT(*) AS n_copies
    FROM documents
    GROUP BY 1
    ORDER BY fingerprint
    """,
)
def dedup_exact_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on the normalized-text md5 fingerprint; survivor =
    min doc_id (deterministic, unlike dropDuplicates). One shuffle keyed
    by digest — text itself never shuffles."""
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    return dd.exact_dedup_canonical(d).orderBy("fingerprint")


@register(
    "dedup_ngram_jaccard_pairs",
    f"""
    WITH grams AS (
        SELECT doc_id AS id,
               list_distinct(list_transform(
                   range(0, greatest({_SQL_NTOK} - 2, 1)),
                   i -> array_to_string(list_slice({_SQL_TOKS}, i + 1, i + 3), ' ')
               )) AS g
        FROM documents WHERE doc_id % 20 = 0
    )
    SELECT a.id AS id_a, b.id AS id_b,
           CASE WHEN len(list_distinct(list_concat(a.g, b.g))) > 0
                THEN CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
                     / CAST(len(list_distinct(list_concat(a.g, b.g))) AS DOUBLE)
                ELSE 0.0 END AS jaccard
    FROM grams a JOIN grams b ON a.id < b.id
    WHERE CASE WHEN len(list_distinct(list_concat(a.g, b.g))) > 0
               THEN CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
                    / CAST(len(list_distinct(list_concat(a.g, b.g))) AS DOUBLE)
               ELSE 0.0 END >= 0.2
    ORDER BY id_a, id_b
    """,
)
def dedup_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-gram Jaccard pairs ≥ 0.2 on a doc subset — the
    quadratic ground-truth dedup (the scale path is the LSH variant)."""
    d = load_tables(spark, sf_dir, ("documents",))["documents"].filter(F.col("doc_id") % 20 == 0)
    return dd.ngram_jaccard_pairs(d, n=3, threshold=0.2).orderBy("id_a", "id_b")


@register("dedup_minhash_lsh_pairs", None)
def dedup_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash LSH near-dup pairs (64 hashes, 16 bands, exact-Jaccard
    verified ≥ 0.5). The SCALE path: engine-internal xxhash64 keeps the
    hash and the bucket shuffle keys cheap, at the cost of SQL
    replayability — its banding is verified structurally (the md5-mode
    sibling `dedup_minhash_lsh_pairs_rep` oracle-pairs the identical
    pipeline end-to-end) and precision/recall are asserted against
    brute force in tests."""
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    return dd.minhash_lsh_pairs(d, threshold=0.5).orderBy("id_a", "id_b")


_SQL_MH_GRAMS = f"""list_distinct(list_transform(
                   range(1, greatest(length({_SQL_NORM}) - 4, 1) + 1),
                   i -> substring({_SQL_NORM}, i, 5)))"""

# The whole OPH+LSH pipeline replayed in SQL: 32-bit md5 shingle
# hashes (the features._hash32 recipe), slot = top-6 bits (// 2^26),
# MIN per (id, slot), deterministic densification (slot mod n_filled),
# 16 bands keyed by the literal 4-slot signature strings, bucket cap,
# estimate screen at 64ths, exact Jaccard on the DISTINCT hash sets.
# The CTE prefix (shingles → signatures → bands) is SHARED with the
# survivors twin below so the two oracles cannot drift apart — and
# parameterized over the input table so the funnel twin (round 12) can
# run the identical pipeline over the exact-dedup REPRESENTATIVES
# (a parenthesized aliased subquery, the HDR convention).
def _minhash_rep_ctes(table: str = "documents") -> str:
    return f"""
    WITH grams AS (
        SELECT id, unnest(g) AS g FROM (
            SELECT doc_id AS id, {_SQL_MH_GRAMS} AS g FROM {table}
        )
    ),""" + _MH_PIPELINE_CTES


_MH_PIPELINE_CTES = """
    h AS (
        SELECT id, CAST(('0x' || substring(md5('mh-' || g), 1, 8)) AS BIGINT) AS gh
        FROM grams
    ),
    hsets AS (SELECT id, list(DISTINCT gh) AS hs FROM h GROUP BY id),
    slot_mins AS (
        SELECT id, gh // 67108864 AS slot, MIN(gh) AS mh
        FROM h GROUP BY id, gh // 67108864
    ),
    filled AS (
        SELECT id, list(mh ORDER BY slot) AS vals FROM slot_mins GROUP BY id
    ),
    grid AS (
        SELECT f.id, t.j,
               COALESCE(sm.mh, f.vals[(t.j % len(f.vals)) + 1]) AS sj
        FROM filled f
        CROSS JOIN range(0, 64) t(j)
        LEFT JOIN slot_mins sm ON sm.id = f.id AND sm.slot = t.j
    ),
    sigs AS (SELECT id, list(sj ORDER BY j) AS sig FROM grid GROUP BY id),
    bands AS (
        SELECT s.id, tb.b,
               array_to_string(list_slice(s.sig, tb.b * 4 + 1, tb.b * 4 + 4), ',') AS bkey
        FROM sigs s CROSS JOIN range(0, 16) tb(b)
    )"""

_MINHASH_REP_CTES = _minhash_rep_ctes()

# Banded pairs tail (bucket cap → estimate screen → exact verify) —
# shared by the plain rep-pairs twin and the funnel twin (round 12).
_MINHASH_REP_TAIL = f""",
    bsz AS (SELECT b, bkey, COUNT(*) AS n FROM bands GROUP BY b, bkey),
    cand AS (
        SELECT DISTINCT a.id AS id_a, b.id AS id_b
        FROM bands a
        JOIN bands b ON a.b = b.b AND a.bkey = b.bkey AND a.id < b.id
        JOIN bsz ON bsz.b = a.b AND bsz.bkey = a.bkey
        WHERE bsz.n <= 4096
    ),
    screened AS (
        SELECT c.id_a, c.id_b
        FROM cand c
        JOIN sigs sa ON sa.id = c.id_a
        JOIN sigs sb ON sb.id = c.id_b
        WHERE CAST(len(list_filter(range(1, 65), i -> sa.sig[i] = sb.sig[i]))
                   AS DOUBLE) / 64.0 >= CAST({0.5 - 0.15!r} AS DOUBLE)
    ),
    verified AS (
        SELECT s.id_a, s.id_b,
               CAST(len(list_intersect(ha.hs, hb.hs)) AS DOUBLE)
               / CAST(len(ha.hs) + len(hb.hs)
                      - len(list_intersect(ha.hs, hb.hs)) AS DOUBLE) AS jaccard
        FROM screened s
        JOIN hsets ha ON ha.id = s.id_a
        JOIN hsets hb ON hb.id = s.id_b
    )
    SELECT id_a, id_b, jaccard FROM verified
    WHERE jaccard >= 0.5
    ORDER BY id_a, id_b
    """

_MINHASH_REP_ORACLE = _MINHASH_REP_CTES + _MINHASH_REP_TAIL

# Funnel twin (round 12): the IDENTICAL banded pipeline over the
# exact-dedup REPRESENTATIVES only — docs that are the min doc_id of
# their normalized-text fingerprint group.
_FUNNEL_REPS_TABLE = f"""(
        SELECT d.doc_id, d.text FROM documents d
        JOIN (SELECT MIN(doc_id) AS doc_id FROM documents
              GROUP BY md5({_SQL_NORM})) r USING (doc_id)
    ) reps"""

_MINHASH_FUNNEL_ORACLE = _minhash_rep_ctes(_FUNNEL_REPS_TABLE) + _MINHASH_REP_TAIL


@register("dedup_minhash_lsh_pairs_rep", _MINHASH_REP_ORACLE)
def dedup_minhash_lsh_pairs_rep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME OPH MinHash LSH pipeline as `dedup_minhash_lsh_pairs`
    in reproducible-internals mode (round-10: the last major dedup
    family member gains an oracle pairing): every engine-internal hash
    rides the ONE md5 recipe, band buckets key on the literal
    signature-slice strings, and the DuckDB twin replays signatures →
    banding → bucket cap → estimate screen → exact verification
    bit-for-bit.  The default xxhash64 mode stays the scale path
    (cheaper hash, 8-byte bucket keys) — this query certifies the
    ALGORITHM, including densification and the screen arithmetic, not
    just the final Jaccard values."""
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    return dd.minhash_lsh_pairs(d, threshold=0.5, hash_mode="md5").orderBy(
        "id_a", "id_b"
    )


@register("dedup_funnel_rep_pairs", _MINHASH_FUNNEL_ORACLE)
def dedup_funnel_rep_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exact-dedup → MinHash FUNNEL (pipeline/dedup.py::
    minhash_dedup_funnel, round 11) registered as a query (round 12):
    byte-identical normalized texts collapse to one representative in a
    single fingerprint-keyed shuffle, then the banded OPH pipeline runs
    over representatives only — the composition every production
    pipeline runs, and the fix for template-dense corpora whose
    mass-identical blocks would otherwise flood LSH buckets (BASELINE.md
    rounds 10-11).  md5 reproducible-internals mode: the DuckDB twin is
    the SHARED rep-pairs pipeline (_minhash_rep_ctes + _MINHASH_REP_TAIL
    — the two oracles cannot drift) instantiated over the exact-dedup
    representatives subquery.  The funnel's full pair relation is these
    cross-group rep pairs UNION the within-group jaccard-1.0 members —
    the groups face is certified separately by `dedup_exact_docs`'s
    fingerprint GROUP BY twin (identical aggregation)."""
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    pairs, _groups = dd.minhash_dedup_funnel(d, threshold=0.5, hash_mode="md5")
    return pairs.select("id_a", "id_b", "jaccard").orderBy("id_a", "id_b")


# Greedy bucket-min survivor verdicts on the SAME shared CTE prefix:
# per (band, bucket) the MIN id is the candidate, each doc verifies
# against its ≤16 bucket mins (estimate screen then exact Jaccard),
# verdict = smallest verified candidate.  No bucket cap exists in this
# pipeline (bucket state is a single MIN) — mirrored exactly Spark-side.
# Shared survivor-pipeline tail CTEs (bucket-min candidates -> greedy
# verdicts); both the survivors twin and the recursive-CTE clusters
# twin build on this one string so they cannot drift.
_MINHASH_SURVIVOR_TAIL_CTES = f""",
    bmin AS (SELECT b, bkey, MIN(id) AS cand FROM bands GROUP BY b, bkey),
    cand AS (
        SELECT DISTINCT a.id AS id, m.cand AS cand
        FROM bands a
        JOIN bmin m ON m.b = a.b AND m.bkey = a.bkey
        WHERE a.id <> m.cand
    ),
    screened AS (
        SELECT c.id, c.cand
        FROM cand c
        JOIN sigs sa ON sa.id = c.id
        JOIN sigs sb ON sb.id = c.cand
        WHERE CAST(len(list_filter(range(1, 65), i -> sa.sig[i] = sb.sig[i]))
                   AS DOUBLE) / 64.0 >= CAST({0.5 - 0.15!r} AS DOUBLE)
    ),
    vpos AS (
        SELECT s.id, s.cand,
               CAST(len(list_intersect(ha.hs, hb.hs)) AS DOUBLE)
               / CAST(len(ha.hs) + len(hb.hs)
                      - len(list_intersect(ha.hs, hb.hs)) AS DOUBLE) AS j
        FROM screened s
        JOIN hsets ha ON ha.id = s.id
        JOIN hsets hb ON hb.id = s.cand
    ),
    hits AS (SELECT id, cand, j FROM vpos WHERE j >= 0.5),
    dup AS (SELECT id, MIN(cand) AS dup_of FROM hits GROUP BY id)"""

_MINHASH_SURVIVORS_ORACLE = f"""{_MINHASH_REP_CTES}{_MINHASH_SURVIVOR_TAIL_CTES}
    SELECT d.doc_id,
           CAST(CASE WHEN dup.dup_of IS NOT NULL THEN 1 ELSE 0 END AS INT) AS is_dup,
           CAST(COALESCE(dup.dup_of, -1) AS BIGINT) AS dup_of,
           COALESCE(v.j, -1.0) AS dup_jaccard
    FROM documents d
    LEFT JOIN dup ON dup.id = d.doc_id
    LEFT JOIN hits v ON v.id = d.doc_id AND v.cand = dup.dup_of
    ORDER BY d.doc_id
    """


# Greedy dup_of chains resolved to their root survivor with a RECURSIVE
# CTE (dup_of is strictly decreasing -> a forest, so the recursion
# terminates); the Spark side resolves the same chains by pointer
# jumping.  `roots` keeps the chain element that is NOT itself a dup.
_MINHASH_CLUSTERS_ORACLE = (
    _MINHASH_REP_CTES.replace("WITH grams", "WITH RECURSIVE grams", 1)
    + _MINHASH_SURVIVOR_TAIL_CTES
    + """,
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
    SELECT d.doc_id,
           CAST(CASE WHEN r.root IS NOT NULL THEN 1 ELSE 0 END AS INT) AS is_dup,
           CAST(COALESCE(r.root, d.doc_id) AS BIGINT) AS cluster_root
    FROM documents d
    LEFT JOIN roots r ON r.id = d.doc_id
    ORDER BY d.doc_id
    """
)


@register("dedup_minhash_survivor_clusters_rep", _MINHASH_CLUSTERS_ORACLE)
def dedup_minhash_survivor_clusters_rep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CLUSTER face of the linear dedup family (round 11):
    :func:`~csv_query_engine_spark.pipeline.dedup.survivor_clusters`
    resolves the greedy ``dup_of`` pointer forest to root survivors by
    pointer jumping (O(log depth) rounds, localCheckpoint loop
    discipline); the DuckDB twin follows the same chains with a
    RECURSIVE CTE over the shared survivor-pipeline CTEs, so the whole
    composition — signatures → banding → bucket-min verdicts → chain
    resolution — is certified end to end."""
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    v = dd.minhash_dedup_survivors(d, threshold=0.5, hash_mode="md5")
    return (
        dd.survivor_clusters(v)
        .select(
            "doc_id",
            F.col("is_dup").cast("int").alias("is_dup"),
            F.col("cluster_root").cast("bigint").alias("cluster_root"),
        )
        .orderBy("doc_id")
    )


@register("dedup_minhash_survivors_rep", _MINHASH_SURVIVORS_ORACLE)
def dedup_minhash_survivors_rep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy per-doc KEEP/DROP dedup verdicts (round 11) — the LINEAR
    100-TB dedup face: each doc exact-verifies against at most `bands`
    bucket-min candidates instead of every co-bucketed doc, so the
    verify volume is ≤ 16×|docs| no matter how near-dup-dense the
    corpus is (the all-pairs face measured 6.0e8 genuine candidates on
    500k template docs — quadratic OUTPUT no prepass can remove).  md5
    reproducible-internals mode; the DuckDB twin replays the shared
    signature/banding CTE prefix plus the bucket-min/greedy tail, so
    the verdict column values (including sentinel fills) hash-match
    end to end."""
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    v = dd.minhash_dedup_survivors(d, threshold=0.5, hash_mode="md5")
    return v.select(
        "doc_id",
        F.col("is_dup").cast("int").alias("is_dup"),
        "dup_of",
        "dup_jaccard",
    ).orderBy("doc_id")


_SIMHASH_ORACLE = f"""
    WITH ids AS (SELECT doc_id AS id FROM documents),
    tok AS (
        SELECT id, t FROM (
            SELECT doc_id AS id, unnest(string_split({_SQL_NORM}, ' ')) AS t
            FROM documents
        ) WHERE t <> ''
    ),
    h AS (SELECT id,
                 CAST(('0x' || substring(md5(t), 1, 8)) AS BIGINT) AS hi,
                 CAST(('0x' || substring(md5(t), 9, 8)) AS BIGINT) AS lo
          FROM tok),
    lanes AS (
        SELECT id, j,
               CASE WHEN j < 32 THEN (lo >> j) & 1
                    ELSE (hi >> (j - 32)) & 1 END AS bit
        FROM h CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS j)
    ),
    maj AS (SELECT id, j, CAST(SUM(bit) AS BIGINT) AS ones,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM lanes GROUP BY id, j),
    hv AS (SELECT id,
                  SUM(CAST(CASE WHEN 2 * ones > n THEN 1 ELSE 0 END AS HUGEINT)
                      * (CAST(1 AS HUGEINT) << CAST(j AS INT))) AS hv
           FROM maj GROUP BY id),
    fp AS (SELECT ids.id,
                  CAST(CASE WHEN COALESCE(hv, 0) >= CAST(1 AS HUGEINT) << 63
                            THEN COALESCE(hv, 0) - (CAST(1 AS HUGEINT) << 64)
                            ELSE COALESCE(hv, 0) END AS BIGINT) AS sig
           FROM ids LEFT JOIN hv ON ids.id = hv.id)
    SELECT a.id AS id_a, b.id AS id_b,
           CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming
    FROM fp a JOIN fp b ON a.id < b.id
    WHERE bit_count(xor(a.sig, b.sig)) <= 3
    ORDER BY id_a, id_b
    """


@register("dedup_simhash_pairs", _SIMHASH_ORACLE)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (Hamming ≤ 3 over 64-bit signatures,
    pigeonhole band blocking). Pandas-UDF signature computation.

    FULLY ORACLE-PAIRED (upgraded from rows-only late round 8): the
    signature already derives every bit from md5 (big-endian first 8
    digest bytes per token — exactly the first 16 hex chars DuckDB's
    md5() prints), so the twin recomputes it end-to-end — hi/lo 32-bit
    hex parses, a 64-lane bit majority per document, the HUGEINT
    two's-complement assembly (the media-pairs recipe) — and runs the
    QUADRATIC hamming join. The 4×16-bit banding carries NO max_bucket
    guard, so by pigeonhole the banded output EQUALS the quadratic
    truth unconditionally; empty-token documents keep signature 0 on
    both sides (ids LEFT JOIN + COALESCE in the twin)."""
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    return dd.simhash_near_dup_pairs(d).orderBy("id_a", "id_b")


@register(
    "dedup_containment_pairs",
    f"""
    WITH grams AS (
        SELECT doc_id AS id,
               list_distinct(list_transform(
                   range(0, greatest({_SQL_NTOK} - 2, 1)),
                   i -> array_to_string(list_slice({_SQL_TOKS}, i + 1, i + 3), ' ')
               )) AS g
        FROM documents WHERE doc_id % 3 = 0
    )
    SELECT a.id AS id_a, b.id AS id_b,
           CASE WHEN len(a.g) > 0
                THEN CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
                     / CAST(len(a.g) AS DOUBLE)
                ELSE 0.0 END AS containment
    FROM grams a JOIN grams b ON a.id <> b.id
    WHERE CASE WHEN len(a.g) > 0
               THEN CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
                    / CAST(len(a.g) AS DOUBLE)
               ELSE 0.0 END >= 0.6
    ORDER BY id_a, id_b
    """,
)
def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram CONTAINMENT pairs (pipeline/dedup.py::
    containment_pairs) — the asymmetric similarity join: ordered pairs
    where ≥60% of doc A's distinct trigrams appear in doc B, i.e. A is
    (nearly) a quote/extract of B — undetectable by symmetric Jaccard
    when |B| ≫ |A|. Prefix-filtered on the contained side (AllPairs
    machinery), exact verify; containment is an integer ratio so the
    quadratic DuckDB twin hash-matches. Input bounded to doc_id % 3 ==
    0 (the oracle is quadratic; the Spark side is not) — the smallest
    mod that surfaces pairs at BOTH driver tiers (6 rows at sf0.01, 52
    at sf0.1; vacuous-zero oracle matches prove nothing). The
    asymmetry is the point: at sf0.1 the deliberately-quadratic oracle
    runs ~70 s while the prefix-filtered Spark plan is 1.6 s warm —
    the 43× gap IS the AllPairs prefix cut (measured round 8)."""
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    sub = d.filter(F.col("doc_id") % 3 == 0)
    return dd.containment_pairs(sub, threshold=0.6).orderBy("id_a", "id_b")


# ------------------------------------------------------------- similarity


def _sql_brute_cosine_topk(exclude_same_label: bool) -> str:
    """ONE builder for the brute-force-cosine twins (plain top-k and
    the hard-negative different-label variant) so the cosine recipe
    cannot drift between them (the copied-oracle hazard, SKILL.md)."""
    label_sel = ", label AS q_label" if exclude_same_label else ""
    label_pred = " AND e.label <> q.q_label" if exclude_same_label else ""
    return f"""
    WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS q_vec{label_sel}
               FROM embeddings WHERE vec_id % 100 = 0),
         scored AS (
           -- cosine computed explicitly in double (list_cosine_similarity
           -- would run in float32 on a FLOAT[] column and drift)
           SELECT q.query_id, e.vec_id AS cand_id,
                  ROUND(
                    CASE WHEN sqrt(list_dot_product(q.q_vec, q.q_vec))
                              * sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))) > 0
                         THEN list_dot_product(q.q_vec, CAST(e.embedding AS DOUBLE[]))
                              / (sqrt(list_dot_product(q.q_vec, q.q_vec))
                                 * sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))))
                         ELSE 0.0 END, 4) AS cosine
           FROM embeddings e JOIN q ON e.vec_id <> q.query_id{label_pred}
         )
    SELECT query_id, cand_id, cosine,
           ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, cand_id) AS rank
    FROM scored
    QUALIFY rank <= 5
    ORDER BY query_id, rank
    """


_COS_E = """CASE WHEN sqrt(list_dot_product(b.b_vec, b.b_vec))
                      * sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))) > 0
                 THEN list_dot_product(b.b_vec, CAST(e.embedding AS DOUBLE[]))
                      / (sqrt(list_dot_product(b.b_vec, b.b_vec))
                         * sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))))
                 ELSE 0.0 END"""

_SEMANTIC_CONTAM_ORACLE = f"""
    WITH b AS (SELECT vec_id AS bench_id, CAST(embedding AS DOUBLE[]) AS b_vec
               FROM embeddings WHERE vec_id % 37 = 0),
         scored AS (
           -- FLOOR(x*1e4 + 0.5)/1e4, never engine ROUND: the quantized
           -- value feeds the >= 0.9 verdict and the argmax-equality
           -- tiebreak (CLAUDE.md rounding invariant)
           SELECT e.vec_id, b.bench_id, FLOOR(({_COS_E}) * 1e4 + 0.5) / 1e4 AS cos
           FROM embeddings e CROSS JOIN b
         ),
         best AS (SELECT vec_id, MAX(cos) AS max_cosine FROM scored GROUP BY vec_id),
         m AS (
           SELECT s.vec_id, MIN(s.bench_id) AS matched_bench_id
           FROM scored s JOIN best USING (vec_id)
           WHERE s.cos = best.max_cosine
           GROUP BY s.vec_id
         )
    SELECT best.vec_id,
           CAST(CASE WHEN best.max_cosine >= 0.9 THEN 1 ELSE 0 END AS INT) AS contaminated,
           best.max_cosine,
           CAST(m.matched_bench_id AS BIGINT) AS matched_bench_id
    FROM best JOIN m USING (vec_id)
    ORDER BY best.vec_id
    """


@register("embedding_semantic_contamination", _SEMANTIC_CONTAM_ORACLE)
def embedding_semantic_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-level decontamination screen (round 11) — the semantic
    complement of gram-based `docs_benchmark_decontamination`: every
    corpus vector's max cosine against the broadcast benchmark subset
    (vec_id % 37), verdict at 0.9, deterministic matched id (rounded
    scores, smallest-id tiebreak).  The oracle is the deliberately
    QUADRATIC cross join (the media-twin precedent — never imitate that
    shape Spark-side); the Spark plan is one corpus pass against a
    broadcast plus a map-side-combined max."""
    e = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    bench = e.filter(F.col("vec_id") % 37 == 0)
    return sim.semantic_contamination(e, bench, threshold=0.9).orderBy("vec_id")


@register("embedding_topk_bruteforce", _sql_brute_cosine_topk(False))
def embedding_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 for each query vector (vec_id % 100 == 0):
    broadcast query side, JVM-side zip_with/aggregate dot products, then
    per-query window top-k. Cosine rounded to 4 dp on both engines so
    float-order noise cannot flip ranks differently."""
    e = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    q = e.filter(F.col("vec_id") % 100 == 0).select(F.col("vec_id").alias("query_id"), F.col("embedding"))
    out = sim.brute_force_topk(e, q, k=5, rounding=4)
    return out.orderBy("query_id", "rank")


@register("embedding_lsh_topk", sim.sql_lsh_topk())
def embedding_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate top-k (hyperplane signatures, Hamming-1
    multi-probe, exact rescore inside the probed buckets).

    ORACLE-PAIRED as of round 13 (was rows-only since round 1 — the
    `quantized_topk` graduation applied to LSH): signatures are exact
    int64 sign decisions over the scale-6 planes, probe buckets are
    integer XOR flips, and the rescore is the FLOOR-quantized integer
    cosine — sql_lsh_topk replays candidates → rescore → partitioned
    rank bit-for-bit, the approximate RECALL trade included.  Planted-
    neighbour recall stays asserted in tests."""
    e = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    q = e.filter(F.col("vec_id") % 100 == 0).select(F.col("vec_id").alias("query_id"), F.col("embedding"))
    return sim.lsh_bucket_topk(e, q, k=5).orderBy("query_id", "rank")


_SEMSURV_TABLE = (
    "(SELECT vec_id, embedding FROM embeddings "
    "UNION ALL SELECT vec_id + 1000000 AS vec_id, embedding FROM embeddings "
    "WHERE vec_id % 37 = 0) se"
)


def _semsurv_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The planted-copy corpus the semantic-survivor and near-dup-pair
    queries share (Spark face of `_SEMSURV_TABLE` — keep the two in
    lockstep)."""
    e = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    planted = e.filter(F.col("vec_id") % 37 == 0).select(
        (F.col("vec_id") + 1000000).alias("vec_id"), "embedding"
    )
    return e.select("vec_id", "embedding").unionAll(planted)


@register(
    "embedding_near_dup_pairs",
    sim.sql_embedding_near_dup_pairs(threshold=0.95, table=_SEMSURV_TABLE),
)
def embedding_near_dup_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicates (banded signature blocking +
    exact verification ≥ 0.95).

    ORACLE-PAIRED as of round 13 (was rows-only): the registered form
    runs over the planted-copy corpus (`_semsurv_corpus` — the raw
    harness embeddings are near-orthogonal, max off-diagonal cosine
    0.601 measured, so the raw-corpus result is an honest zero; the
    planted copies make the pairing non-vacuous: every (source, copy)
    pair emits with cosine exactly 1.0).  sql_embedding_near_dup_pairs replays banding →
    bucket caps → in-bucket pairs → integer-cosine verify.  Recall/
    precision behavior stays covered by the planted-pair pytest
    (tests/test_pipeline.py)."""
    return sim.embedding_near_dup_pairs(_semsurv_corpus(spark, sf_dir)).orderBy("id_a", "id_b")


@register("embedding_contamination_banded", sim.sql_contamination_banded())
def embedding_contamination_banded_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus-sized-bench decontamination path (round 11): banded
    hyperplane blocking restricted to cross (corpus × bench)
    candidates, exact cosine verification — neither side broadcasts,
    so a benchmark UNION in the millions screens a 100 TB corpus.

    FULLY ORACLE-PAIRED as of round 12 (was rows-only): scale-6
    integer planes and coordinates make every sign decision and the
    verify cosine exact integer/IEEE arithmetic, so the DuckDB twin
    (sql_contamination_banded) replays signatures → banding → per-side
    caps → candidate join → integer-cosine verify → argmax verdict
    bit-for-bit, approximate RECALL included (the Bloom-decontamination
    precedent: a reproducible pipeline can certify its own false-
    negative trade).  Recall/precision/planted-copy properties stay
    pinned in tests/test_similarity_pq.py; compare
    `embedding_semantic_contamination` (the exact, bounded-bench
    face)."""
    e = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    bench = e.filter(F.col("vec_id") % 37 == 0)
    return sim.semantic_contamination_banded(e, bench, threshold=0.9).orderBy("vec_id")


@register(
    "dedup_semantic_survivors",
    sim.sql_semantic_survivors(threshold=0.92, table=_SEMSURV_TABLE),
)
def dedup_semantic_survivors_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LINEAR verdict face of semantic dedup (round 13;
    pipeline/similarity.py::semantic_dedup_survivors) — the embedding
    sibling of `dedup_minhash_survivors_rep`: per-vector KEEP/DROP
    against at most n_bands quantized-LSH bucket-min candidates, so a
    paraphrase-dense corpus gets a verdict table instead of the
    quadratic pair output `dedup_semantic_pairs` materializes.

    The harness corpus has no natural near-dups (max bucket-min cosine
    ≈ 0.45 measured), so the registered input plants exact copies of
    the vec_id % 37 subset at shifted ids — the dedup scenario proper;
    copies that share a bucket whose min IS their source drop with
    dup_cosine = 1.0 (12/14/17 at the three tiers), the rest survive
    (the documented greedy bucket-min trade).  Fully oracle-paired end
    to end: quantized planes, band buckets, bucket MINs, integer-cosine
    verify, smallest-candidate verdict."""
    return sim.semantic_dedup_survivors(
        _semsurv_corpus(spark, sf_dir), threshold=0.92
    ).orderBy("vec_id")


@register(
    "dedup_semantic_survivor_clusters",
    sim.sql_semantic_survivor_clusters(threshold=0.92, table=_SEMSURV_TABLE),
)
def dedup_semantic_survivor_clusters_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CLUSTER face of semantic survivors (round 13): the SAME
    pointer-jumping resolver the minhash family uses
    (pipeline/dedup.py::survivor_clusters — the forest shape is
    identical, dup_of strictly decreasing) over the semantic verdict
    table; the DuckDB twin appends the recursive chain-chase to the
    SHARED survivor CTE prefix
    (similarity.py::_sql_semantic_survivor_ctes, WITH → WITH RECURSIVE
    — the minhash-clusters precedent)."""
    v = sim.semantic_dedup_survivors(_semsurv_corpus(spark, sf_dir), threshold=0.92)
    return dd.survivor_clusters(v, id_col="vec_id").orderBy("vec_id")


@register(
    "embedding_centroids_by_label",
    """
    WITH e AS (
        SELECT label, generate_subscripts(embedding, 1) - 1 AS dim, unnest(embedding) AS v
        FROM embeddings
    )
    SELECT label, CAST(dim AS INT) AS dim,
           CAST(SUM(CAST(FLOOR(CAST(v AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
               / 1000000.0 / COUNT(v) AS centroid,
           CAST(COUNT(v) AS BIGINT) AS n_vecs
    FROM e
    GROUP BY label, dim
    ORDER BY label, dim
    """,
)
def embedding_centroids_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label mean embedding in long (label, dim, centroid) form
    (pipeline/similarity.py::label_centroids) — the distributed vector
    aggregate behind cluster stats and IVF training, posexplode +
    fixed-point exact sums, no UDF."""
    e = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    return sim.label_centroids(e).orderBy("label", "dim")


# ------------------------------------------------------------- multimodal


_SQL_BYTE_CODES = "list_transform(range(1, CAST(length(text) AS INT) + 1), i -> ascii(text[i]))"


def _sql_residue_frac(k: int) -> str:
    return (
        f"ROUND(CASE WHEN length(text) > 0 THEN "
        f"CAST(len(list_filter({_SQL_BYTE_CODES}, c -> c % 8 = {k})) AS DOUBLE)"
        f" / length(text) ELSE 0.0 END, 6) AS f{k}"
    )


@register(
    "multimodal_decode_features",
    f"""
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_bytes,
           ROUND(CASE WHEN length(text) > 0 THEN
                 CAST(list_sum({_SQL_BYTE_CODES}) AS DOUBLE) / length(text)
                 ELSE 0.0 END, 6) AS byte_mean,
           {", ".join(_sql_residue_frac(k) for k in range(8))}
    FROM documents
    WHERE doc_id % 20 = 0
    ORDER BY doc_id
    """,
)
def multimodal_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary media column -> Arrow-batched feature extraction
    (mapInPandas). The real codec path stays stubbed (no media libs in
    this environment); the deterministic fake (byte statistics + folded
    residue histogram, float64) is itself ORACLE-CHECKED — the SQL twin
    recomputes the same integer ratios over the character codes, exact
    because the corpus is pure ASCII (verified: octet_length == length
    for every doc; the Spark side operates on actual bytes and stays
    correct beyond ASCII). The feature array is flattened to scalar
    f0..f7 doubles — the driver's canonicalizer sorts pandas frames and
    array cells are unhashable there; the array form stays available
    via pipeline.multimodal.decode_media."""
    d = load_tables(spark, sf_dir, ("documents",))["documents"].filter(F.col("doc_id") % 20 == 0)
    media = mm.attach_fake_media(d)
    out = mm.decode_media(media)
    return out.select(
        "doc_id",
        "n_bytes",
        F.round("byte_mean", 6).alias("byte_mean"),
        *[F.round(F.get("feature", k), 6).alias(f"f{k}") for k in range(8)],
    ).orderBy("doc_id")


@register(
    "docs_tfidf_top_terms",
    f"""
    WITH docs AS (
        SELECT doc_id, {_SQL_TOKS} AS toks FROM documents WHERE doc_id % 10 = 0
    ),
    terms AS (
        SELECT doc_id, unnest(toks) AS term FROM docs
    ),
    tf AS (
        SELECT doc_id, term, COUNT(*) AS tf FROM terms WHERE term <> '' GROUP BY doc_id, term
    ),
    dfreq AS (
        SELECT term, COUNT(*) AS dfq FROM tf GROUP BY term
    ),
    n AS (SELECT COUNT(*) AS n_docs FROM docs),
    scored AS (
        SELECT tf.doc_id, tf.term,
               ROUND(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / CAST(dfreq.dfq AS DOUBLE)), 6) AS tfidf
        FROM tf, n
        JOIN dfreq ON tf.term = dfreq.term
    ),
    ranked AS (
        SELECT doc_id, term, tfidf,
               ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rank
        FROM scored
    )
    SELECT doc_id, term, tfidf, rank FROM ranked WHERE rank <= 5
    ORDER BY doc_id, rank
    """,
)
def docs_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 tf·idf terms per document (subset-gated): the classic
    keyword-extraction / relevance primitive of a text pipeline.
    idf = ln(N/df) computed identically (libm log over doubles) in both
    engines; tfidf rounded to 6 before ranking so ordering is stable."""
    d = load_tables(spark, sf_dir, ("documents",))["documents"].filter(F.col("doc_id") % 10 == 0)
    return tx.tfidf_top_terms(d, top_k=5).orderBy("doc_id", "rank")


@register("embedding_ivf_topk", None)
def embedding_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-k (learned centroids, nprobe cell probing,
    exact in-cell rescoring). Approximate by construction -> no SQL
    oracle; planted-neighbor recall asserted in tests."""
    e = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    q = e.filter(F.col("vec_id") % 100 == 0).select(F.col("vec_id").alias("query_id"), F.col("embedding"))
    return sim.ivf_topk(e, q, k=5).orderBy("query_id", "rank")


@register(
    "docs_udtf_sentences",
    """
    SELECT doc_id,
           CAST(u.idx AS INT) AS sentence_idx,
           u.s AS sentence
    FROM (
        SELECT doc_id,
               unnest(list_transform(regexp_split_to_array(text, '[.!?]+[ ]*'),
                      (p, i) -> struct_pack(idx := i, s := trim(p)))) AS u
        FROM documents WHERE doc_id % 50 = 0
    )
    WHERE u.s <> ''
    ORDER BY doc_id, sentence_idx
    """,
)
def docs_udtf_sentences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (table function) coverage — SURVEY §2 Tier B UDF/UDTF
    row: one input document row expands to N (sentence_idx, sentence)
    rows via a lateral join. The UDTF body is self-contained so
    cloudpickle ships it by value; the oracle reproduces the same split
    with regexp_split_to_array + generate_series (1-based raw-part
    indices, empty parts skipped on both sides).

    Scale: UDTFs run Arrow-batched per partition like any Python worker
    stage; the expansion is map-side (no shuffle) — the downstream sort
    here exists only for the deterministic compare."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="sentence_idx int, sentence string")
    class SplitSentences:
        def eval(self, text: str):
            import re as _re

            parts = _re.split(r"[.!?]+[ ]*", text or "")
            for i, p in enumerate(parts, 1):
                p = p.strip()
                if p:
                    yield (i, p)

    d = load_tables(spark, sf_dir, ("documents",))["documents"].filter(F.col("doc_id") % 50 == 0)
    d.createOrReplaceTempView("_udtf_docs")
    spark.udtf.register("split_sentences", SplitSentences)
    return spark.sql(
        """
        SELECT d.doc_id, s.sentence_idx, s.sentence
        FROM _udtf_docs d, LATERAL split_sentences(d.text) s
        ORDER BY d.doc_id, s.sentence_idx
        """
    )


@register(
    "customer_order_gap_profile",
    """
    WITH o AS (
        SELECT o_custkey, o_orderkey, o_orderdate,
               LAG(o_orderdate) OVER (
                   PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ) AS prev_d
        FROM orders WHERE o_custkey % 10 = 0
    )
    SELECT o_custkey AS custkey,
           COUNT(*) AS n_orders,
           COALESCE(ROUND(AVG(CAST(DATEDIFF('day', prev_d, o_orderdate) AS DOUBLE)), 6), -1.0)
               AS avg_gap_days,
           COALESCE(CAST(MAX(DATEDIFF('day', prev_d, o_orderdate)) AS BIGINT), -1) AS max_gap_days
    FROM o
    GROUP BY o_custkey
    ORDER BY custkey
    """,
)
def customer_order_gap_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch grouped-map pandas UDF coverage (SURVEY §2 Tier B UDF/UDAF
    row, the applyInPandas cell): per-customer order-cadence model —
    mean/max day gaps between consecutive orders, computed inside a
    per-group pandas frame. The semantics ARE SQL-expressible (that is
    the point: it keeps a DuckDB oracle); the grouped-map form is the
    coverage target, standing in for per-entity model fits (per-user
    curves, per-key regressions) that are not.

    Gap multiset depends only on the sorted order dates, so ties need
    no ordering guarantee; single-order customers COALESCE to -1
    sentinels on both sides (pandas would upcast nullable ints).

    Scale: one shuffle on custkey; per-group state is that customer's
    orders only (bounded); Arrow-batched both directions. The UDF body
    is closure-self-contained — executors cannot import this package.

    PERF (both measured at sf0.1): (a) dates are converted to epoch-day
    ints JVM-side BEFORE the UDF — per-group ``pd.to_datetime`` over
    Python date objects parses element-wise, ~2 ms/group; (b) the input
    is EXPLICITLY hash-repartitioned on the group key — the rows feeding
    the groupBy are a few hundred KB, so AQE coalesces the implicit
    shuffle to ONE partition and the per-group Python stage runs serial
    (the AQE-serializes-compute trap, see pipeline/dedup._spread); an
    explicit repartition satisfies the clustering requirement (no second
    exchange) and AQE does not coalesce user-specified partitioning.
    10 s -> ~1 s."""

    def _profile(pdf):
        import numpy as np
        import pandas as pd

        days = np.sort(pdf["order_day"].to_numpy())
        gaps = np.diff(days)
        if gaps.size:
            avg = round(float(gaps.mean()), 6)
            mx = int(gaps.max())
        else:
            avg, mx = -1.0, -1
        return pd.DataFrame(
            {
                "custkey": [int(pdf["o_custkey"].iloc[0])],
                "n_orders": [len(pdf)],
                "avg_gap_days": [avg],
                "max_gap_days": [mx],
            }
        )

    o = load_tables(spark, sf_dir, ("orders",))["orders"].filter(F.col("o_custkey") % 10 == 0)
    return (
        o.select("o_custkey", F.datediff("o_orderdate", F.lit("1970-01-01")).alias("order_day"))
        .repartition(spark.sparkContext.defaultParallelism, "o_custkey")
        .groupBy("o_custkey")
        .applyInPandas(_profile, "custkey long, n_orders long, avg_gap_days double, max_gap_days long")
        .orderBy("custkey")
    )


@register(
    "multimodal_frame_sample",
    """
    WITH b AS (
        SELECT doc_id, length(text) // 64 AS n_frames
        FROM documents WHERE doc_id % 20 = 0
    )
    SELECT doc_id,
           CAST(unnest(range(0, CAST(n_frames AS INT), 2)) AS INT) AS frame_idx,
           CAST(64 AS BIGINT) AS n_bytes
    FROM b
    ORDER BY doc_id, frame_idx
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video-style frame sampling plumbing (1 row -> N frame rows,
    mapInPandas). Binary column derived deterministically from the
    documents table; real codec stubbed (environment has no media
    libs). The fake chunking (consecutive 64-byte frames, every 2nd
    kept, full frames only) is oracle-checked over the frame INDEX
    stream — ASCII corpus, so byte offsets equal char offsets."""
    d = load_tables(spark, sf_dir, ("documents",))["documents"].filter(F.col("doc_id") % 20 == 0)
    media = mm.attach_fake_media(d)
    return mm.sample_frames(media, frame_bytes=64, every_n=2).drop("frame").orderBy("doc_id", "frame_idx")


@register(
    "docs_fingerprints",
    f"""
    WITH n AS (
        SELECT doc_id, {_SQL_NORM} AS s FROM documents WHERE doc_id % 20 = 0
    )
    SELECT doc_id,
           md5(s) AS fingerprint,
           list_reduce(
               list_prepend(CAST(7 AS BIGINT),
                   list_transform(range(1, length(s) + 1),
                                  i -> CAST(ord(substring(s, CAST(i AS INT), 1)) AS BIGINT))),
               (a, c) -> (a * 31 + c) % 2147483647
           ) AS rolling_fp
    FROM n
    ORDER BY doc_id
    """,
)
def docs_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprints per document: md5 of the normalized text plus
    the Rabin-Karp rolling hash (same 31/2^31-1 fold on both sides —
    per-character codes extracted by index so element sequences are
    bit-identical across engines)."""
    d = load_tables(spark, sf_dir, ("documents",))["documents"].filter(F.col("doc_id") % 20 == 0)
    norm = d.select("doc_id", tx.normalize_text(F.col("text")).alias("_s"))
    return norm.select(
        "doc_id",
        F.md5(F.col("_s")).alias("fingerprint"),
        tx.rolling_fingerprint(F.col("_s")).alias("rolling_fp"),
    ).orderBy("doc_id")


# ------------------------------------------------- sampling / split assignment

_SQL_BUCKET = (
    "CAST(concat('0x', substr(md5(concat('doc-', CAST(doc_id AS VARCHAR))), 1, 8))"
    " AS BIGINT) % 100"
)


@register(
    "docs_split_assignment",
    f"""
    SELECT split, lang, COUNT(*) AS count, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
    FROM (
        SELECT lang, n_chars,
               CASE WHEN b < 80 THEN 'train'
                    WHEN b < 90 THEN 'val'
                    ELSE 'test' END AS split
        FROM (SELECT lang, n_chars, {_SQL_BUCKET} AS b FROM documents)
    )
    GROUP BY split, lang
    ORDER BY split, lang
    """,
)
def docs_split_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test assignment by content-hash
    bucket of ``doc_id`` (pipeline/sampling.py) — no RNG, so the split is
    reproducible across runs/engines and stable as the corpus grows.

    Scale: the assignment is a narrow per-row map (md5 + modulo) that
    rides the scan; the only shuffle is the tiny (split, lang) aggregate.
    """
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    return (
        d.select(
            smp.assign_split(F.col("doc_id"), salt="doc-"),
            "lang",
            "n_chars",
        )
        .groupBy("split", "lang")
        .agg(F.count(F.lit(1)).alias("count"), F.sum("n_chars").alias("sum_chars"))
        .orderBy("split", "lang")
    )


@register(
    "docs_stratified_sample",
    """
    SELECT doc_id, lang, sample_rank
    FROM (
        SELECT doc_id, lang,
               ROW_NUMBER() OVER (
                   PARTITION BY lang
                   ORDER BY md5(concat('strat-', CAST(doc_id AS VARCHAR))), doc_id
               ) AS sample_rank
        FROM documents
    )
    WHERE sample_rank <= 25
    ORDER BY lang, sample_rank
    """,
)
def docs_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly min(25, |stratum|) docs per language, chosen by smallest
    content hash — a deterministic per-stratum reservoir sample
    (pipeline/sampling.py::stratified_fixed_sample).

    Scale: one shuffle on ``lang``; Spark inserts a WindowGroupLimit
    (per-partition top-k heap) below the shuffle, so huge strata move
    only ~k rows per map partition, not the whole stratum.
    """
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    return (
        smp.stratified_fixed_sample(d, "lang", F.col("doc_id"), 25, salt="strat-")
        .select("doc_id", "lang", "sample_rank")
        .orderBy("lang", "sample_rank")
    )


@register(
    "docs_stratified_sample_threshold",
    REGISTRY["docs_stratified_sample"][1],  # SAME selection -> same twin
)
def docs_stratified_sample_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The large-k TWO-PASS plan of the per-stratum reservoir sample
    (round 11; pipeline/sampling.py::stratified_fixed_sample_threshold):
    per-stratum counts, a hash-threshold prefilter bounding the window
    input to ~margin·k rows per stratum, exact (hash, key) rank among
    survivors, and a shortfall guard that raises instead of emitting a
    short sample.  Oracle-certified against the SAME ROW_NUMBER twin as
    `docs_stratified_sample` (fetched from the registry so the two can
    never drift) — the certification is precisely that the bounded-
    window plan selects identical rows with identical ranks."""
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    return (
        smp.stratified_fixed_sample_threshold(d, "lang", F.col("doc_id"), 25, salt="strat-")
        .select("doc_id", "lang", "sample_rank")
        .orderBy("lang", "sample_rank")
    )


# The running-sum CTE prefix shared by the scalar mix twin, its
# threshold form (same twin fetched from the registry) and the
# waterfill-mix twin — the drift rule applied to the mix family.
_SQL_MIX_CTES = f"""
    WITH d AS (
        SELECT doc_id, lang, {_SQL_NTOK} AS n_tokens,
               md5(concat('mix-', CAST(doc_id AS VARCHAR))) AS h
        FROM documents
    ),
    w AS (
        SELECT doc_id, lang, n_tokens,
               SUM(n_tokens) OVER (
                   PARTITION BY lang ORDER BY h, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS cum_tokens
        FROM d
    )"""


@register(
    "docs_token_budget_mix",
    f"""{_SQL_MIX_CTES}
    SELECT doc_id, lang,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(cum_tokens AS BIGINT) AS cum_tokens
    FROM w
    WHERE cum_tokens <= 1500
    ORDER BY doc_id
    """,
)
def docs_token_budget_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget training-mix selection (pipeline/sampling.py::
    token_budget_sample): per-language, keep docs in deterministic
    content-hash order while the running token total stays ≤ 1500 —
    the "2 B tokens per language" mix-composition primitive, exact and
    reproducible across engines.

    Scale: one shuffle on ``lang`` + per-stratum sort; the docstring
    documents the two-pass hash-threshold variant for strata too big
    to sort.
    """
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    base = d.select("doc_id", "lang", tx.token_count(F.col("text")).alias("n_tokens"))
    return (
        smp.token_budget_sample(base, "lang", F.col("doc_id"), F.col("n_tokens"), 1500, salt="mix-")
        .select(
            "doc_id",
            "lang",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.col("cum_tokens").cast("long").alias("cum_tokens"),
        )
        .orderBy("doc_id")
    )


@register(
    "docs_token_budget_mix_threshold",
    REGISTRY["docs_token_budget_mix"][1],  # SAME selection -> same twin
)
def docs_token_budget_mix_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The large-stratum TWO-PASS plan of the token-budget mix
    (round 12; pipeline/sampling.py::token_budget_sample_threshold):
    per-stratum token totals, a hash-threshold prefilter bounding the
    running-sum window's input to ~margin·budget token mass per
    stratum, the exact window among survivors, and a completeness
    guard that raises instead of emitting a short mix.
    Oracle-certified against the SAME running-sum twin as
    `docs_token_budget_mix` (fetched from the registry so the two can
    never drift) — the certification is precisely that the bounded
    plan selects identical rows with identical cum_tokens."""
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    base = d.select("doc_id", "lang", tx.token_count(F.col("text")).alias("n_tokens"))
    return (
        smp.token_budget_sample_threshold(
            base, "lang", F.col("doc_id"), F.col("n_tokens"), 1500, salt="mix-"
        )
        .select(
            "doc_id",
            "lang",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.col("cum_tokens").cast("long").alias("cum_tokens"),
        )
        .orderBy("doc_id")
    )


@register(
    "docs_token_budget_waterfill",
    f"""
    WITH g AS (
        SELECT lang AS _g, CAST(SUM({_SQL_NTOK}) AS BIGINT) AS n
        FROM documents GROUP BY lang
    ),
    r AS (
        SELECT a._g, a.n,
               CAST(COUNT(*) AS BIGINT) AS i, CAST(SUM(b.n) AS BIGINT) AS pfx
        FROM g a JOIN g b
          ON (b.n < a.n) OR (b.n = a.n AND b._g <= a._g)
        GROUP BY a._g, a.n
    ),
    t AS (SELECT CAST(COUNT(*) AS BIGINT) AS gg, CAST(MAX(n) AS BIGINT) AS mx FROM g),
    c AS (
        SELECT r._g, r.n, r.i, t.mx,
               CASE WHEN 20000 - (r.pfx - r.n) < 0 THEN CAST(-1 AS BIGINT)
                    ELSE CAST((20000 - (r.pfx - r.n)) // (t.gg - r.i + 1) AS BIGINT)
               END AS cand
        FROM r, t
    ),
    lv AS (
        SELECT COALESCE(
            (SELECT cand FROM c WHERE cand < n ORDER BY i LIMIT 1),
            (SELECT mx FROM t)
        ) AS level
    )
    SELECT c._g AS lang,
           c.n AS n_tokens,
           CAST(lv.level AS BIGINT) AS level,
           CAST(LEAST(c.n, lv.level) AS BIGINT) AS allocated,
           c.n > lv.level AS capped
    FROM c, lv
    ORDER BY lang
    """,
)
def docs_token_budget_waterfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Water-filling mix design (round 13; pipeline/sampling.py::
    token_budget_waterfill): the largest shared per-language token
    level L with Σ min(n_lang, L) ≤ 20000, and each language's
    allocation min(n_lang, L) — the flat-cap answer to "spend this
    budget without letting `en` dominate".  All-integer arithmetic end
    to end (long sums, clamp-then-integer-divide segment candidates,
    first-valid-segment minimum), so the DuckDB twin replays it
    exactly.  Scale: one corpus-row aggregate; everything after is
    domain-cardinality (triangular broadcast prefix sums + two 1-row
    broadcasts — never an unpartitioned window)."""
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    base = d.select("lang", tx.token_count(F.col("text")).alias("n_tokens"))
    return (
        smp.token_budget_waterfill(base, "lang", F.col("n_tokens"), 20000)
        .select(
            "lang",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.col("level").cast("long").alias("level"),
            F.col("allocated").cast("long").alias("allocated"),
            F.col("capped").alias("capped"),
        )
        .orderBy("lang")
    )


@register(
    "docs_waterfill_mix",
    f"""{_SQL_MIX_CTES},
    wf AS (
        SELECT lang, allocated
        FROM ({{waterfill}}) x
    )
    SELECT w.doc_id, w.lang,
           CAST(w.n_tokens AS BIGINT) AS n_tokens,
           CAST(w.cum_tokens AS BIGINT) AS cum_tokens
    FROM w JOIN wf ON wf.lang = w.lang
    WHERE w.cum_tokens <= wf.allocated
    ORDER BY w.doc_id
    """.format(waterfill=REGISTRY["docs_token_budget_waterfill"][1]),
)
def docs_waterfill_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The waterfill mix design APPLIED (round 13): per-language
    allocations from `docs_token_budget_waterfill` feed
    pipeline/sampling.py::token_budget_sample_allocated — the
    per-stratum-budget form of the running-sum selection — so the
    whole "spend 20000 tokens without letting `en` dominate" design
    executes end to end as one reproducible corpus filter.  The twin
    NESTS the registry-fetched waterfill oracle (the no-drift nesting
    rule) inside the shared `_SQL_MIX_CTES` running-sum prefix.

    Scale: two corpus passes (the waterfill totals aggregate, then the
    windowed selection — the threshold-sampler precedent) plus a
    domain-cardinality broadcast of the allocations onto the window."""
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    base = d.select("doc_id", "lang", tx.token_count(F.col("text")).alias("n_tokens"))
    alloc = smp.token_budget_waterfill(base, "lang", F.col("n_tokens"), 20000).select(
        "lang", "allocated"
    )
    return (
        smp.token_budget_sample_allocated(
            base, "lang", F.col("doc_id"), F.col("n_tokens"), alloc, salt="mix-"
        )
        .select(
            "doc_id",
            "lang",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.col("cum_tokens").cast("long").alias("cum_tokens"),
        )
        .orderBy("doc_id")
    )


# ------------------------------------------- clustering / packing / scrub

_SQL_BPE = "len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]'))"


@register(
    "dedup_cluster_canonical",
    f"""
    WITH RECURSIVE d AS (
        SELECT doc_id AS id, {_SQL_TOKS} AS toks FROM documents
    ),
    spans AS (
        SELECT id, unnest(list_distinct(CASE WHEN len(toks) >= 8
            THEN list_transform(range(1, len(toks) - 6),
                                i -> array_to_string(list_slice(toks, i, i + 7), ' '))
            ELSE [] END)) AS g
        FROM d
    ),
    good_spans AS (
        SELECT g FROM spans GROUP BY g HAVING COUNT(*) BETWEEN 2 AND 64
    ),
    cand AS (
        SELECT DISTINCT a.id AS id_a, b.id AS id_b
        FROM spans a JOIN good_spans USING (g) JOIN spans b USING (g)
        WHERE a.id < b.id
    ),
    grams AS (
        SELECT id,
               list_distinct(list_transform(
                   range(0, greatest(len(toks) - 2, 1)),
                   i -> array_to_string(list_slice(toks, i + 1, i + 3), ' '))) AS gr
        FROM d
    ),
    edges AS (
        SELECT id_a, id_b
        FROM cand
        JOIN grams ga ON ga.id = cand.id_a
        JOIN grams gb ON gb.id = cand.id_b
        WHERE CASE WHEN len(list_distinct(list_concat(ga.gr, gb.gr))) > 0
                   THEN CAST(len(list_intersect(ga.gr, gb.gr)) AS DOUBLE)
                        / CAST(len(list_distinct(list_concat(ga.gr, gb.gr))) AS DOUBLE)
                   ELSE 0.0 END >= 0.5
    ),
    sym AS (
        SELECT id_a AS src, id_b AS dst FROM edges
        UNION ALL
        SELECT id_b AS src, id_a AS dst FROM edges
    ),
    reach(id, lbl) AS (
        SELECT id, id FROM d
        UNION
        SELECT s.dst, r.lbl FROM reach r JOIN sym s ON s.src = r.id
    ),
    comp AS (SELECT id, MIN(lbl) AS cluster_id FROM reach GROUP BY id),
    sizes AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM comp GROUP BY cluster_id)
    SELECT comp.id AS doc_id,
           CAST(comp.cluster_id AS BIGINT) AS cluster_id,
           CAST(sizes.cluster_size AS BIGINT) AS cluster_size,
           (comp.id = comp.cluster_id) AS is_survivor
    FROM comp JOIN sizes USING (cluster_id)
    ORDER BY doc_id
    """,
)
def dedup_cluster_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clustering with canonical survivors (pipeline.dedup.
    near_dup_clusters): span-blocked candidates → exact 3-gram Jaccard
    edges ≥ 0.5 → connected components via iterative min-label
    propagation → per-doc (cluster_id, cluster_size, is_survivor).
    The transitive-closure step every dedup pipeline ends with; the
    DuckDB twin replays the same edge set through a recursive CTE."""
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    return dd.near_dup_clusters(d).orderBy("doc_id")


@register(
    "docs_sequence_packing",
    f"""
    WITH base AS (
        SELECT doc_id, CAST({_SQL_BPE} AS BIGINT) AS n FROM documents
    ),
    cum AS (
        SELECT doc_id, n,
               CAST(COALESCE(SUM(n) OVER (ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS s
        FROM base
    )
    SELECT doc_id,
           n AS n_tokens,
           s AS start_offset,
           s // 2048 AS pack_id,
           s % 2048 AS offset_in_pack,
           ((s + greatest(n, 1) - 1) // 2048) > (s // 2048) AS spans_boundary
    FROM cum
    ORDER BY doc_id
    """,
)
def docs_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-split sequence packing (pipeline.packing.
    sequence_packing): lay the corpus out in id order as one token
    stream cut into 2048-token training sequences; per doc the global
    start offset, home pack, in-pack offset, and boundary-straddle flag.
    The prefix sum is hierarchical (bucket subtotals + tiny cumsum +
    within-bucket window) — no global single-partition window."""
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    from csv_query_engine_spark.pipeline.packing import sequence_packing

    return sequence_packing(d).orderBy("doc_id")


@register(
    "docs_vocab_coverage",
    f"""
    WITH toks AS (SELECT unnest({_SQL_TOKS}) AS term FROM documents),
    counts AS (
        SELECT term, COUNT(*) AS n_occ FROM toks WHERE term <> '' GROUP BY term
    ),
    tot AS (SELECT CAST(SUM(n_occ) AS BIGINT) AS total_occ FROM counts),
    top AS (
        SELECT term, CAST(n_occ AS BIGINT) AS n_occ
        FROM counts ORDER BY n_occ DESC, term LIMIT 20
    )
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY n_occ DESC, term) AS INT) AS rnk,
           term,
           n_occ,
           ROUND(CAST(n_occ AS DOUBLE) / CAST(total_occ AS DOUBLE), 6) AS share,
           ROUND(CAST(SUM(n_occ) OVER (ORDER BY n_occ DESC, term
                 ROWS UNBOUNDED PRECEDING) AS DOUBLE) / CAST(total_occ AS DOUBLE), 6) AS cum_share
    FROM top, tot
    ORDER BY rnk
    """,
)
def docs_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary head coverage (pipeline.text.vocab_coverage):
    top-20 tokens by occurrence with per-token and cumulative share —
    the Zipf audit run before tokenizer training."""
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    return tx.vocab_coverage(d, top_k=20).orderBy("rnk")


@register(
    "docs_pii_scrub_stats",
    f"""
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN len(regexp_extract_all(text, '{tx.PII_EMAIL}'))
                        + len(regexp_extract_all(text, '{tx.PII_URL}'))
                        + len(regexp_extract_all(text, '{tx.PII_PHONE}'))
                        + len(regexp_extract_all(text, '{tx.PII_LONG_DIGITS}')) > 0
                    THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_pii,
           CAST(SUM(len(regexp_extract_all(text, '{tx.PII_EMAIL}'))) AS BIGINT) AS n_emails,
           CAST(SUM(len(regexp_extract_all(text, '{tx.PII_URL}'))) AS BIGINT) AS n_urls,
           CAST(SUM(len(regexp_extract_all(text, '{tx.PII_PHONE}'))) AS BIGINT) AS n_phones,
           CAST(SUM(len(regexp_extract_all(text, '{tx.PII_LONG_DIGITS}'))) AS BIGINT) AS n_long_digits
    FROM documents
    GROUP BY source
    ORDER BY source
    """,
)
def docs_pii_scrub_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source PII rollup (pipeline.text.pii_scan): doc counts,
    docs with any hit, and per-pattern totals. The synthetic corpus is
    PII-free, so this reports honest zeros here; the unit tests exercise
    every pattern and the redaction order on constructed rows."""
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    scanned = tx.pii_scan(d)
    return (
        d.select("doc_id", "source")
        .join(scanned, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("has_pii"), 1).otherwise(0)).cast("long").alias("docs_with_pii"),
            F.sum("n_emails").alias("n_emails"),
            F.sum("n_urls").alias("n_urls"),
            F.sum("n_phones").alias("n_phones"),
            F.sum("n_long_digits").alias("n_long_digits"),
        )
        .orderBy("source")
    )


_QUANTIZED_TOPK_ORACLE = """
    WITH q0 AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS v
                FROM embeddings WHERE vec_id % 100 = 0),
         c0 AS (SELECT vec_id AS cand_id, CAST(embedding AS DOUBLE[]) AS v
                FROM embeddings),
         -- int8 quantization, pinned op order (x*127.0)/max + 0.5 — the
         -- operator's half-up floor exactly (np.rint's half-even would
         -- NOT be expressible here; the operator uses floor by design)
         qq AS (SELECT query_id, v,
                       list_transform(v, x -> floor(x * 127.0 / mx + 0.5)) AS qi
                FROM (SELECT query_id, v,
                             CASE WHEN list_max(list_transform(v, x -> abs(x))) = 0
                                  THEN 1.0
                                  ELSE list_max(list_transform(v, x -> abs(x))) END AS mx
                      FROM q0)),
         cc AS (SELECT cand_id, v,
                       list_transform(v, x -> floor(x * 127.0 / mx + 0.5)) AS qi
                FROM (SELECT cand_id, v,
                             CASE WHEN list_max(list_transform(v, x -> abs(x))) = 0
                                  THEN 1.0
                                  ELSE list_max(list_transform(v, x -> abs(x))) END AS mx
                      FROM c0)),
         -- approximate score: EXACT-integer dot in double (|dot| <=
         -- 64*127^2 << 2^53) over deterministic sqrt/mul/div — NO
         -- quantization needed for bit-identical shortlist order
         approx AS (
           SELECT q.query_id, c.cand_id, q.v AS q_vec, c.v AS c_vec,
                  CASE WHEN sqrt(list_dot_product(c.qi, c.qi))
                            * sqrt(list_dot_product(q.qi, q.qi)) > 0
                       THEN list_dot_product(c.qi, q.qi)
                            / (sqrt(list_dot_product(c.qi, c.qi))
                               * sqrt(list_dot_product(q.qi, q.qi)))
                       ELSE 0.0 END AS a
           FROM cc c JOIN qq q ON c.cand_id <> q.query_id
         ),
         short AS (
           SELECT query_id, cand_id, q_vec, c_vec,
                  ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY a DESC, cand_id) AS srnk
           FROM approx
         ),
         resc AS (
           SELECT query_id, cand_id,
                  FLOOR((CASE WHEN sqrt(list_dot_product(q_vec, q_vec))
                                   * sqrt(list_dot_product(c_vec, c_vec)) > 0
                              THEN list_dot_product(q_vec, c_vec)
                                   / (sqrt(list_dot_product(q_vec, q_vec))
                                      * sqrt(list_dot_product(c_vec, c_vec)))
                              ELSE 0.0 END) * 1e4 + 0.5) / 1e4 AS cosine
           FROM short WHERE srnk <= 15
         )
    SELECT query_id, cand_id, cosine,
           ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, cand_id) AS rank
    FROM resc
    QUALIFY rank <= 5
    ORDER BY query_id, rank
    """


@register("embedding_quantized_topk", _QUANTIZED_TOPK_ORACLE)
def embedding_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar-quantized approximate top-k with exact rescoring
    (pipeline.similarity.quantized_topk) — the SQ8 bandwidth scale path.
    Oracle-paired in round 13 (round-12 verdict #7): the half-up-floor
    quantizer, exact-integer approximate dot, and FLOOR-quantized
    rescore make the whole quantize->shortlist->rescore pipeline
    reproducible; the twin replays it end to end (quadratic join —
    driver-tier-only shape, the media-twin precedent)."""
    e = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    q = e.filter(F.col("vec_id") % 100 == 0).select(F.col("vec_id").alias("query_id"), F.col("embedding"))
    return sim.quantized_topk(e, q, k=5, rounding=4).orderBy("query_id", "rank")


@register(
    "dedup_incremental_admission",
    f"""
    WITH d AS (
        SELECT doc_id AS id, {_SQL_TOKS} AS toks, md5({_SQL_NORM}) AS fp
        FROM documents
    ),
    inc AS (SELECT * FROM d WHERE id % 5 = 0),
    cor AS (SELECT * FROM d WHERE id % 5 <> 0),
    exact AS (
        SELECT i.id, MIN(c.id) AS exact_of
        FROM inc i JOIN cor c ON i.fp = c.fp
        GROUP BY i.id
    ),
    spans_inc AS (
        SELECT id, unnest(list_distinct(CASE WHEN len(toks) >= 8
            THEN list_transform(range(1, len(toks) - 6),
                                i -> array_to_string(list_slice(toks, i, i + 7), ' '))
            ELSE [] END)) AS g
        FROM inc
    ),
    spans_cor AS (
        SELECT id, unnest(list_distinct(CASE WHEN len(toks) >= 8
            THEN list_transform(range(1, len(toks) - 6),
                                i -> array_to_string(list_slice(toks, i, i + 7), ' '))
            ELSE [] END)) AS g
        FROM cor
    ),
    span_caps AS (SELECT g, COUNT(*) AS n_docs FROM spans_cor GROUP BY g),
    cand AS (
        SELECT DISTINCT si.id AS id_in, sc.id AS id_cor
        FROM spans_inc si
        JOIN spans_cor sc USING (g)
        JOIN span_caps USING (g)
        WHERE span_caps.n_docs <= 64
    ),
    grams AS (
        SELECT id,
               list_distinct(list_transform(
                   range(0, greatest(len(toks) - 2, 1)),
                   i -> array_to_string(list_slice(toks, i + 1, i + 3), ' '))) AS gr
        FROM d
    ),
    near AS (
        SELECT cand.id_in AS id, MIN(cand.id_cor) AS near_of
        FROM cand
        JOIN grams gi ON gi.id = cand.id_in
        JOIN grams gc ON gc.id = cand.id_cor
        WHERE CASE WHEN len(list_distinct(list_concat(gi.gr, gc.gr))) > 0
                   THEN CAST(len(list_intersect(gi.gr, gc.gr)) AS DOUBLE)
                        / CAST(len(list_distinct(list_concat(gi.gr, gc.gr))) AS DOUBLE)
                   ELSE 0.0 END >= 0.5
        GROUP BY cand.id_in
    )
    SELECT i.id AS doc_id,
           CASE WHEN e.exact_of IS NOT NULL THEN 'exact_dup'
                WHEN n.near_of IS NOT NULL THEN 'near_dup'
                ELSE 'admit' END AS verdict,
           CAST(COALESCE(e.exact_of, n.near_of, -1) AS BIGINT) AS dup_of
    FROM inc i
    LEFT JOIN exact e ON e.id = i.id
    LEFT JOIN near n ON n.id = i.id
    ORDER BY doc_id
    """,
)
def dedup_incremental_admission(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-incremental dedup admission (pipeline.dedup.
    incremental_dedup): the incoming slice (doc_id % 5 == 0) screened
    against the already-ingested corpus — exact fingerprint match, then
    span-blocked near-dup with exact-Jaccard verification; per-doc
    verdict + the duplicated corpus id. The continuously-fed pipeline
    shape: nothing quadratic in the corpus, incoming side broadcasts."""
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    inc = d.filter(F.col("doc_id") % 5 == 0)
    cor = d.filter(F.col("doc_id") % 5 != 0)
    return dd.incremental_dedup(inc, cor).orderBy("doc_id")


_SQL_QF_PASSES = (
    f"(({_SQL_NTOK} >= 25 AND {_SQL_NTOK} <= 120)"
    f" AND ({_SQL_MTL} >= 3.0 AND {_SQL_MTL} <= 10.0)"
    f" AND ({_SQL_SW_RATIO} >= 0.02)"
    f" AND ({_SQL_DRATIO} >= 0.30))"
)


@register(
    "docs_dataset_card",
    f"""
    WITH q AS (
        SELECT doc_id, lang, source,
               {_SQL_NTOK} AS ntok,
               md5({_SQL_NORM}) AS fp,
               {_SQL_QF_PASSES} AS passes
        FROM documents
    )
    SELECT lang, source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(ntok) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN passes THEN 1 ELSE 0 END) AS BIGINT) AS n_quality_pass,
           ROUND(CAST(SUM(CASE WHEN passes THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6) AS pass_rate,
           CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_unique_fingerprints,
           CAST(COUNT(*) - COUNT(DISTINCT fp) AS BIGINT) AS dup_excess
    FROM q
    GROUP BY lang, source
    ORDER BY lang, source
    """,
)
def docs_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-card rollup — the one-query corpus summary a training
    run is gated on, composing the pipeline primitives: per
    (lang, source) slice the doc and token budget, hard-quality-filter
    pass rate, and exact-dup excess (docs minus distinct fingerprints).
    One shuffle keyed by the slice after per-doc map-side stats; the
    distinct-fingerprint count uses Spark's two-phase distinct agg."""
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    qf = tx.quality_filter(d)
    meta = d.select("doc_id", "lang", "source", tx.fingerprint(F.col("text")).alias("fp"))
    n_pass = F.sum(F.when(F.col("passes"), 1).otherwise(0))
    return (
        meta.join(qf, "doc_id")
        .groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
            n_pass.cast("long").alias("n_quality_pass"),
            F.round(n_pass.cast("double") / F.count(F.lit(1)), 6).alias("pass_rate"),
            F.countDistinct("fp").alias("n_unique_fingerprints"),
            (F.count(F.lit(1)) - F.countDistinct("fp")).alias("dup_excess"),
        )
        .orderBy("lang", "source")
    )


# ----------------------------------------------- chunking / sharding / entropy


@register(
    "docs_chunk_windows",
    f"""
    WITH base AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
    ex AS (
        SELECT doc_id, toks,
               unnest(generate_series(0, (greatest(len(toks) - 32, 0) + 23) // 24)) AS chunk_idx
        FROM base
    )
    SELECT doc_id,
           CAST(chunk_idx AS INTEGER) AS chunk_idx,
           CAST(chunk_idx * 24 AS BIGINT) AS start_tok,
           CAST(LEAST(32, len(toks) - chunk_idx * 24) AS BIGINT) AS n_tokens,
           array_to_string(toks[chunk_idx * 24 + 1 : chunk_idx * 24 + 32], ' ') AS chunk_text
    FROM ex
    ORDER BY doc_id, chunk_idx
    """,
)
def docs_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping retrieval chunks (32-token windows every 24 tokens)
    per document — see pipeline.chunking.chunk_documents for the
    one-pass, shuffle-free layout argument."""
    from csv_query_engine_spark.pipeline.chunking import chunk_documents

    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    return chunk_documents(d, chunk_tokens=32, stride=24).orderBy("doc_id", "chunk_idx")


@register(
    "docs_shard_assignment",
    """
    WITH base AS (
        SELECT doc_id,
               CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS BIGINT) AS n_tokens,
               CAST('0x' || substr(md5('shard-' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) AS hkey
        FROM documents
    ),
    laid AS (
        SELECT doc_id, n_tokens,
               COALESCE(SUM(n_tokens) OVER (
                   ORDER BY hkey, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS s
        FROM base
    )
    SELECT doc_id, n_tokens,
           CAST(s // 4096 AS BIGINT) AS shard_id,
           CAST(s % 4096 AS BIGINT) AS offset_in_shard
    FROM laid
    ORDER BY doc_id
    """,
)
def docs_shard_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-ordered token-budgeted shard layout — the oracle reproduces
    it with ONE global window (fine for DuckDB at oracle scale); the
    Spark side uses the fully-partitioned hierarchical prefix sum
    (pipeline.chunking.shard_assignment)."""
    from csv_query_engine_spark.pipeline.chunking import shard_assignment

    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    return shard_assignment(d).orderBy("doc_id")


@register(
    "docs_char_entropy",
    f"""
    WITH base AS (SELECT doc_id, {_SQL_NORM} AS norm FROM documents),
    pos AS (
        SELECT doc_id, norm,
               unnest(generate_series(1, greatest(length(norm), 1))) AS i
        FROM base
    ),
    counts AS (
        SELECT doc_id, substr(norm, CAST(i AS INTEGER), 1) AS ch, COUNT(*) AS cnt
        FROM pos GROUP BY doc_id, ch
    )
    SELECT doc_id,
           CAST(SUM(cnt) AS BIGINT) AS n_chars_norm,
           CAST(COUNT(*) AS BIGINT) AS distinct_chars,
           ROUND(
               ROUND(ln(CAST(SUM(cnt) AS DOUBLE)), 6)
               - CAST(SUM(CAST(ROUND(CAST(cnt AS DOUBLE) * ln(CAST(cnt AS DOUBLE)), 6) AS DECIMAL(18,6))) AS DOUBLE)
                 / CAST(SUM(cnt) AS DOUBLE),
               6) AS char_entropy
    FROM counts
    GROUP BY doc_id
    ORDER BY doc_id
    """,
)
def docs_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document character-distribution entropy (the model-free
    perplexity proxy) — see pipeline.text.char_entropy_stats for the
    exact-sum determinism story."""
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    return tx.char_entropy_stats(d).orderBy("doc_id")


_SQL_PASSES = (
    f"(({_SQL_NTOK} >= 25 AND {_SQL_NTOK} <= 120)"
    f" AND ({_SQL_MTL} >= 3.0 AND {_SQL_MTL} <= 10.0)"
    f" AND ({_SQL_SW_RATIO} >= 0.02)"
    f" AND ({_SQL_DRATIO} >= 0.30))"
)


@register(
    "docs_clean_corpus_funnel",
    f"""
    WITH base AS (
        SELECT doc_id, lang,
               md5({_SQL_NORM}) AS fp,
               CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS BIGINT) AS tk,
               {_SQL_PASSES} AS passes
        FROM documents
    ),
    keep AS (
        SELECT fp, MIN(doc_id) AS keep_id FROM base WHERE passes GROUP BY fp
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN passes THEN 1 ELSE 0 END) AS BIGINT) AS n_pass_quality,
           CAST(SUM(CASE WHEN passes AND b.doc_id = k.keep_id THEN 1 ELSE 0 END) AS BIGINT) AS n_final,
           CAST(SUM(CASE WHEN passes AND b.doc_id = k.keep_id THEN tk ELSE 0 END) AS BIGINT) AS tokens_final
    FROM base b LEFT JOIN keep k USING (fp)
    GROUP BY lang
    ORDER BY lang
    """,
)
def docs_clean_corpus_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END cleaning funnel per language — the composition every
    training-data pipeline reports: raw docs → Gopher-rule quality pass
    → exact-dedup survivors among the passing docs → final BPE-ish token
    budget. One query shows how the operators compose (quality_filter +
    fingerprint dedup + token accounting) and that the composition stays
    oracle-checkable.

    Scale: the per-doc table (fingerprint + token count + verdict) is
    built once and PERSISTED — it feeds both the survivor min-agg and
    the final rollup join, and without the persist the regex-heavy
    projections plus the quality explode-aggregate re-ran per consumer
    (measured 12-17 s → 1.5 s warm at sf0.1, with _spread decoupling
    the per-row regex work from the single-file scan layout).
    Survivorship is a min-agg keyed by the 16-byte digest over passing
    docs only, joined back on the digest. No text moves after the map
    side; output is |langs| rows. Cache lifetime caller-owned (see
    pipeline.cache_scope)."""
    from pyspark.storagelevel import StorageLevel

    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    qf = tx.quality_filter(d).select("doc_id", "passes")
    base = (
        tx._spread(d.select("doc_id", "lang", "text"))
        .select(
            "doc_id",
            "lang",
            tx.fingerprint(F.col("text")).alias("fp"),
            tx.bpe_ish_token_count(F.col("text")).cast("long").alias("tk"),
        )
        .join(qf, "doc_id")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    keep = (
        base.filter(F.col("passes"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keep_id"))
    )
    is_final = F.col("passes") & (F.col("doc_id") == F.col("keep_id"))
    return (
        base.join(keep, "fp", "left")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("passes"), 1).otherwise(0)).cast("bigint").alias("n_pass_quality"),
            F.sum(F.when(is_final, 1).otherwise(0)).cast("bigint").alias("n_final"),
            F.sum(F.when(is_final, F.col("tk")).otherwise(0)).cast("bigint").alias("tokens_final"),
        )
        .orderBy("lang")
    )


@register(
    "media_ppm_decode_stats",
    """
    WITH px AS (
        SELECT doc_id,
               (16 + doc_id % 16) AS w,
               (8 + doc_id % 8) AS h,
               unnest(range(0, (16 + doc_id % 16) * (8 + doc_id % 8) * 3)) AS p
        FROM documents WHERE doc_id % 10 = 0
    ),
    v AS (
        SELECT doc_id, w, h, (doc_id * 31 + 7 * p) % 256 AS v FROM px
    )
    SELECT doc_id,
           CAST(MAX(w) AS INT) AS width,
           CAST(MAX(h) AS INT) AS height,
           CAST(COUNT(*) AS BIGINT) AS n_pixel_bytes,
           ROUND(CAST(SUM(v) AS DOUBLE) / COUNT(*), 6) AS byte_mean,
           ROUND(CAST(SUM(CASE WHEN v % 8 = 0 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6) AS f0,
           ROUND(CAST(SUM(CASE WHEN v % 8 = 1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6) AS f1,
           ROUND(CAST(SUM(CASE WHEN v % 8 = 2 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6) AS f2,
           ROUND(CAST(SUM(CASE WHEN v % 8 = 3 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6) AS f3,
           ROUND(CAST(SUM(CASE WHEN v % 8 = 4 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6) AS f4,
           ROUND(CAST(SUM(CASE WHEN v % 8 = 5 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6) AS f5,
           ROUND(CAST(SUM(CASE WHEN v % 8 = 6 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6) AS f6,
           ROUND(CAST(SUM(CASE WHEN v % 8 = 7 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6) AS f7
    FROM v GROUP BY doc_id ORDER BY doc_id
    """,
)
def media_ppm_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode, oracle-checked end-to-end: ppm_encode emits
    genuine binary PPM (P6) blobs whose pixels follow the closed form
    (doc_id*31 + 7*p) mod 256, decode_media(fake=False) REALLY parses
    the header and pixel array (pipeline/multimodal._make_image_parser
    — comments, maxval, truncation checks; 24-bit BMP on the same
    path), and the statistics are computed over the DECODED pixels.
    The DuckDB twin recomputes them from the closed form — any header
    or offset bug in encoder OR decoder breaks the hash match. Closes
    the round-4 'real codec path untestable' gap with a stdlib-only
    uncompressed format."""
    d = load_tables(spark, sf_dir, ("documents",))["documents"].filter(F.col("doc_id") % 10 == 0)
    media = mm.ppm_encode(d)
    out = mm.decode_media(media, fake=False)
    return out.select(
        "doc_id",
        "width",
        "height",
        F.col("n_bytes").alias("n_pixel_bytes"),
        F.round("byte_mean", 6).alias("byte_mean"),
        *[F.round(F.get("feature", k), 6).alias(f"f{k}") for k in range(8)],
    ).orderBy("doc_id")


@register(
    "orders_quality_constraints",
    """
    SELECT *, metric >= threshold AS passed FROM (
        SELECT 'completeness(o_custkey)' AS check_name,
               CAST(COUNT(o_custkey) AS DOUBLE) / COUNT(*) AS metric,
               CAST(1.0 AS DOUBLE) AS threshold
        FROM orders
        UNION ALL
        SELECT 'uniqueness(o_orderkey)',
               CAST(COUNT(DISTINCT o_orderkey) AS DOUBLE) / COUNT(*), CAST(1.0 AS DOUBLE)
        FROM orders
        UNION ALL
        SELECT 'range(o_totalprice)[0.0,10000000.0]',
               CAST(SUM(CASE WHEN o_totalprice BETWEEN 0.0 AND 10000000.0
                             THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*),
               CAST(0.999 AS DOUBLE)
        FROM orders
        UNION ALL
        SELECT 'accepted(o_orderstatus){O,F,P}',
               CAST(SUM(CASE WHEN o_orderstatus IN ('O','F','P')
                             THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*),
               CAST(1.0 AS DOUBLE)
        FROM orders
        UNION ALL
        SELECT 'pattern(o_orderpriority)^[1-5]-',
               CAST(SUM(CASE WHEN regexp_matches(o_orderpriority, '^[1-5]-')
                             THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*),
               CAST(1.0 AS DOUBLE)
        FROM orders
        UNION ALL
        SELECT 'completeness(o_orderdate)',
               CAST(COUNT(o_orderdate) AS DOUBLE) / COUNT(*), CAST(1.0 AS DOUBLE)
        FROM orders
    ) ORDER BY check_name
    """,
)
def orders_quality_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ-style declarative quality gate over the orders feed: six
    constraints (completeness ×2, key uniqueness, price range, status
    domain, priority pattern) evaluated in ONE aggregation pass
    (pipeline/validation.py — the oracle necessarily re-states them as
    six scans, which is exactly the per-rule cost the operator exists
    to avoid).

    Scale: one scan, map-side partial aggregation; the uniqueness rule
    adds a COUNT(DISTINCT) Expand (single pass, documented); verdict
    explode is a codegen'd stack over a one-row frame. approx=True
    swaps HLL++ for the distinct count at corpus scale."""
    from csv_query_engine_spark.pipeline.validation import Check, check_constraints

    o = load_tables(spark, sf_dir, ("orders",))["orders"]
    checks = [
        Check("completeness", "o_custkey", 1.0),
        Check("uniqueness", "o_orderkey", 1.0),
        Check("range", "o_totalprice", 0.999, lo=0.0, hi=10000000.0),
        Check("accepted", "o_orderstatus", 1.0, values=("O", "F", "P")),
        Check("pattern", "o_orderpriority", 1.0, regex="^[1-5]-"),
        Check("completeness", "o_orderdate", 1.0),
    ]
    return (
        check_constraints(o, checks)
        .withColumnRenamed("constraint", "check_name")
        .orderBy("check_name")
    )


def _zorder_oracle() -> str:
    from csv_query_engine_spark.operators.layout import sql_morton

    return f"""
    WITH z AS (
        SELECT CAST(o_custkey % 4096 AS BIGINT) AS cust_bucket,
               CAST(date_diff('day', TIMESTAMP '1995-01-01', o_orderdate) % 4096 AS BIGINT)
                   AS day_bucket
        FROM orders
    )
    SELECT CAST({sql_morton('cust_bucket', 'day_bucket', 12)} >> 18 AS BIGINT) AS file_id,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           MIN(cust_bucket) AS min_cust_bucket, MAX(cust_bucket) AS max_cust_bucket,
           MIN(day_bucket) AS min_day_bucket, MAX(day_bucket) AS max_day_bucket
    FROM z
    GROUP BY 1
    ORDER BY file_id
    """


@register("orders_zorder_layout_stats", _zorder_oracle())
def orders_zorder_layout_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) layout of the orders fact on (customer, order
    day): every row gets a curve position from bit-interleaving the two
    bucketed dimensions, files are the top curve bits, and the output
    is the per-file footer-stats table (row count + min/max of BOTH
    dims) a scan planner prunes against — the Delta OPTIMIZE ZORDER BY
    primitive rebuilt on plain DataFrame bit arithmetic
    (operators/layout.py).

    Scale: curve assignment is a map-only codegen'd pass (shifts/
    masks/ORs, no UDF); the stats table is one partial+final aggregate
    on file_id (64 groups). The DuckDB twin recomputes the identical
    interleave via sql_morton — bit-equal positions or the hash breaks.
    tests/test_layout.py quantifies the pruning win: range predicates
    on EITHER dimension skip most files, where a single-column sort
    prunes only its own column."""
    from csv_query_engine_spark.operators.layout import layout_stats, zorder_file_assignment

    o = load_tables(spark, sf_dir, ("orders",))["orders"].select(
        (F.col("o_custkey") % 4096).cast("long").alias("cust_bucket"),
        (
            F.datediff(F.col("o_orderdate"), F.lit("1995-01-01").cast("timestamp")) % 4096
        ).cast("long").alias("day_bucket"),
    )
    assigned = zorder_file_assignment(
        o, F.col("cust_bucket"), F.col("day_bucket"), bits=12, n_files=64
    )
    return layout_stats(assigned, ["cust_bucket", "day_bucket"]).orderBy("file_id")


_BLOOM_M, _BLOOM_K = 65536, 7

_DECONTAM_ORACLE = f"""
    WITH bench AS (SELECT DISTINCT text FROM documents WHERE doc_id % 97 = 0),
    seeds AS (SELECT unnest(generate_series(0, {_BLOOM_K - 1})) AS i),
    spos AS (
        SELECT DISTINCT
               CAST(('0x' || substring(md5('bl' || i || '-' || text), 1, 8))
                    AS BIGINT) % {_BLOOM_M} AS p
        FROM bench CROSS JOIN seeds
    ),
    probe AS (
        SELECT d.doc_id, d.source,
               CAST(('0x' || substring(md5('bl' || i || '-' || d.text), 1, 8))
                    AS BIGINT) % {_BLOOM_M} AS p
        FROM documents d CROSS JOIN seeds
    ),
    flags AS (
        SELECT pr.doc_id, pr.source, bool_and(sp.p IS NOT NULL) AS maybe
        FROM probe pr LEFT JOIN spos sp ON pr.p = sp.p
        GROUP BY pr.doc_id, pr.source
    ),
    per AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(CASE WHEN maybe THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged
        FROM flags GROUP BY source
    ),
    ex AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_exact
        FROM documents WHERE text IN (SELECT text FROM bench)
        GROUP BY source
    )
    SELECT per.source, n_docs, n_flagged,
           COALESCE(n_exact, CAST(0 AS BIGINT)) AS n_exact
    FROM per LEFT JOIN ex ON per.source = ex.source
    ORDER BY per.source
    """


@register("docs_benchmark_decontamination", _DECONTAM_ORACLE)
def docs_benchmark_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination screen: a Bloom filter built over a
    'benchmark' slice of the corpus (every 97th doc's text) flags
    possibly-contaminated training docs in a MAP-ONLY probe pass —
    no corpus shuffle (pipeline/decontam.py), zero false negatives,
    fpp-bounded false positives.  Output compares the screen against
    the exact semi-join per source: flagged >= exact always holds.

    FULLY ORACLE-PAIRED (upgraded from rows-only late round 8): probes
    use the cross-engine md5 recipe (hash_mode="md5") and m, k are
    pinned (65536, 7 — generous for any benchmark slice under ~1k
    entries, and pinning them also drops the count() sizing job), so
    the DuckDB twin reproduces the ENTIRE pipeline — bitmap build,
    broadcast probe, false positives included — as a position-SET
    join: a Bloom bit is set iff some benchmark value hashed there, so
    "all k bits set" ≡ "all k positions ∈ the set", no bit arithmetic
    needed.  The FP/FN contract stays pinned by tests/test_decontam.py
    (which also locks md5-mode ≡ xx-mode semantics).

    Scale: the filter is sized for the BENCHMARK set (small by
    definition); the corpus side is one codegen'd pass + a 25-row-ish
    aggregation."""
    from csv_query_engine_spark.pipeline.decontam import (
        bloom_build,
        bloom_pack,
        bloom_probe,
    )

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    bench = docs.filter(F.col("doc_id") % 97 == 0).select("text")
    m, k = _BLOOM_M, _BLOOM_K
    packed = bloom_pack(bloom_build(bench, "text", m, k, hash_mode="md5"), m)
    flagged = bloom_probe(
        docs.select("doc_id", "source", "text"), "text", packed, m, k, hash_mode="md5"
    )
    exact = docs.join(
        bench.select(F.col("text").alias("_bt")).distinct(),
        F.col("text") == F.col("_bt"),
        "leftsemi",
    ).groupBy("source").agg(F.count(F.lit(1)).cast("bigint").alias("n_exact"))
    return (
        flagged.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(F.when(F.col("maybe_member"), 1).otherwise(0)).cast("bigint").alias("n_flagged"),
        )
        .join(exact, "source", "left")
        .select(
            "source",
            "n_docs",
            "n_flagged",
            F.coalesce(F.col("n_exact"), F.lit(0).cast("bigint")).alias("n_exact"),
        )
        .orderBy("source")
    )


@register(
    "docs_unigram_lm_scores",
    f"""
    WITH tok AS (
        SELECT id, t FROM (
            SELECT doc_id AS id, unnest({_SQL_TOKS}) AS t FROM documents
        ) WHERE t <> ''
    ),
    counts AS (SELECT t, COUNT(*) AS c FROM tok GROUP BY t),
    n AS (SELECT SUM(c) AS n FROM counts),
    per AS (
        SELECT tok.id,
               ROUND(-ln(CAST(counts.c AS DOUBLE) / CAST(n.n AS DOUBLE)), 6) AS s
        FROM tok JOIN counts ON tok.t = counts.t, n
    )
    SELECT id AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
           ROUND(CAST(SUM(CAST(s AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6) AS lm_score
    FROM per GROUP BY id ORDER BY doc_id
    """,
)
def docs_unigram_lm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean unigram surprisal per document under the corpus's own
    unigram distribution (pipeline/text.py::unigram_lm_scores) — the
    statistical perplexity stand-in for LM-quality filtering.

    Scale: one persisted token explode feeding both the count agg and
    the join-back; token keys shuffle as 8-byte hashes; the per-doc
    mean uses the exact fixed-point sum so it hash-matches DuckDB."""
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    return tx.unigram_lm_scores(d).orderBy("doc_id")


def _feature_hash_oracle() -> str:
    from csv_query_engine_spark.pipeline.features import sql_feature_hash

    return sql_feature_hash("documents", _SQL_TOKS)


@register("docs_feature_hash_vectors", _feature_hash_oracle())
def docs_feature_hash_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick vectorization (pipeline/features.py): fixed-width
    signed hashed-count features per document with NO vocabulary
    dictionary — the featurizer that stays consistent across corpus
    shards by construction.

    Scale: one explode + one narrow (id, feature) aggregation; the
    widening conditional sums run over <= d rows per doc. md5-based
    index/sign hashes make the vectors bit-equal in DuckDB (integer
    counts — no floats anywhere)."""
    from csv_query_engine_spark.pipeline.features import feature_hash_vectors

    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    return feature_hash_vectors(d).orderBy("doc_id")


@register(
    "docs_temperature_mix",
    f"""
    WITH m AS (
        SELECT source, CAST(SUM({_SQL_NTOK}) AS BIGINT) AS stratum_mass
        FROM documents GROUP BY source
    ),
    q AS (
        SELECT source, stratum_mass,
               CAST(FLOOR(POW(CAST(stratum_mass AS DOUBLE), 0.7) * 1e6 + 0.5) AS BIGINT)
                   AS _q
        FROM m
    ),
    d AS (SELECT CAST(SUM(_q) AS BIGINT) AS _d FROM q)
    SELECT q.source, q.stratum_mass,
           q._q / d._d AS mix_share,
           CAST(FLOOR(100000.0 * (q._q / d._d)) AS BIGINT) AS target_tokens
    FROM q, d
    ORDER BY source
    """,
)
def docs_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-smoothed source mixture (alpha=0.7): per-source
    token masses re-balanced by m^alpha and normalized — the standard
    multilingual/source re-weighting rule for composing a training mix,
    with the integer token allocation under a 100k budget
    (pipeline/sampling.py::temperature_mix_weights).

    Scale: one aggregate on source + a one-row broadcast; the powered
    masses quantize via IEEE-only FLOOR so shares are exact double
    divisions in both engines."""
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    return smp.temperature_mix_weights(
        d, "source", tx.token_count(F.col("text")), alpha=0.7, budget=100000
    ).orderBy("source")


@register(
    "dedup_allpairs_jaccard",
    f"""
    WITH grams AS (
        SELECT doc_id AS id,
               list_distinct(list_transform(
                   range(0, greatest({_SQL_NTOK} - 2, 1)),
                   i -> array_to_string(list_slice({_SQL_TOKS}, i + 1, i + 3), ' ')
               )) AS g
        FROM documents WHERE doc_id % 20 = 0
    )
    SELECT a.id AS id_a, b.id AS id_b,
           CASE WHEN len(list_distinct(list_concat(a.g, b.g))) > 0
                THEN CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
                     / CAST(len(list_distinct(list_concat(a.g, b.g))) AS DOUBLE)
                ELSE 0.0 END AS jaccard
    FROM grams a JOIN grams b ON a.id < b.id
    WHERE CASE WHEN len(list_distinct(list_concat(a.g, b.g))) > 0
               THEN CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
                    / CAST(len(list_distinct(list_concat(a.g, b.g))) AS DOUBLE)
               ELSE 0.0 END >= 0.5
    ORDER BY id_a, id_b
    """,
)
def dedup_allpairs_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT prefix-filtered similarity join (AllPairs, Bayardo et al.
    WWW'07) — the third dedup-family member: exact output (the oracle
    is the BRUTE-FORCE pair join, so any false negative from the prefix
    filter breaks the hash), LSH-like pruned candidate space (only
    rarest-prefix gram collisions generate pairs; frequent grams never
    fan out). dedup.allpairs_jaccard_pairs docstring carries the
    completeness bound."""
    d = load_tables(spark, sf_dir, ("documents",))["documents"].filter(F.col("doc_id") % 20 == 0)
    return dd.allpairs_jaccard_pairs(d, n=3, threshold=0.5).orderBy("id_a", "id_b")


@register(
    "media_png_decode_stats",
    """
    WITH px AS (
        SELECT doc_id,
               (16 + doc_id % 16) AS w,
               (8 + doc_id % 8) AS h,
               unnest(range(0, (16 + doc_id % 16) * (8 + doc_id % 8) * 3)) AS p
        FROM documents WHERE doc_id % 10 = 5
    ),
    v AS (
        SELECT doc_id, w, h, (doc_id * 31 + 7 * p) % 256 AS v FROM px
    )
    SELECT doc_id,
           CAST(MAX(w) AS INT) AS width,
           CAST(MAX(h) AS INT) AS height,
           CAST(COUNT(*) AS BIGINT) AS n_pixel_bytes,
           ROUND(CAST(SUM(v) AS DOUBLE) / COUNT(*), 6) AS byte_mean,
           ROUND(CAST(SUM(CASE WHEN v % 8 = 0 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6) AS f0,
           ROUND(CAST(SUM(CASE WHEN v % 8 = 1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6) AS f1,
           ROUND(CAST(SUM(CASE WHEN v % 8 = 2 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6) AS f2,
           ROUND(CAST(SUM(CASE WHEN v % 8 = 3 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6) AS f3,
           ROUND(CAST(SUM(CASE WHEN v % 8 = 4 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6) AS f4,
           ROUND(CAST(SUM(CASE WHEN v % 8 = 5 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6) AS f5,
           ROUND(CAST(SUM(CASE WHEN v % 8 = 6 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6) AS f6,
           ROUND(CAST(SUM(CASE WHEN v % 8 = 7 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6) AS f7
    FROM v GROUP BY doc_id ORDER BY doc_id
    """,
)
def media_png_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL COMPRESSED-image decode, oracle-checked end-to-end:
    png_encode emits genuine PNGs (zlib-DEFLATE IDAT, CRC'd chunks)
    whose pixels follow the closed form (doc_id*31 + 7*p) mod 256;
    decode_media(fake=False) REALLY inflates and unfilters them
    (_make_image_parser: all five PNG scanline filters), and the
    statistics run over the DECODED pixels. The DuckDB twin recomputes
    them from the closed form — any DEFLATE, chunk-walk, or unfilter
    bug breaks the hash. Extends the round-5 real-codec path from
    uncompressed (PPM/BMP) to a genuinely compressed format with zero
    external dependencies."""
    d = load_tables(spark, sf_dir, ("documents",))["documents"].filter(F.col("doc_id") % 10 == 5)
    media = mm.png_encode(d)
    out = mm.decode_media(media, fake=False)
    return out.select(
        "doc_id",
        "width",
        "height",
        F.col("n_bytes").alias("n_pixel_bytes"),
        F.round("byte_mean", 6).alias("byte_mean"),
        *[F.round(F.get("feature", k), 6).alias(f"f{k}") for k in range(8)],
    ).orderBy("doc_id")


@register(
    "media_wav_decode_stats",
    """
    WITH k AS (
        SELECT doc_id,
               (256 + doc_id % 256) AS n,
               unnest(range(0, 256 + doc_id % 256)) AS k
        FROM documents WHERE doc_id % 10 = 3
    ),
    s AS (
        SELECT doc_id, n, k,
               ((doc_id * 37 + 11 * k) % 4096) - 2048 AS v,
               CASE WHEN k + 1 < n
                    THEN ((doc_id * 37 + 11 * (k + 1)) % 4096) - 2048
               END AS v_next
        FROM k
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_samples,
           CAST(8000 AS INT) AS sample_rate,
           ROUND(CAST(SUM(v) AS DOUBLE) / COUNT(*), 6) AS amp_mean,
           ROUND(SQRT(CAST(SUM(v * v) AS DOUBLE) / COUNT(*)), 6) AS amp_rms,
           ROUND(CAST(SUM(CASE WHEN v * v_next < 0 THEN 1 ELSE 0 END) AS DOUBLE)
                 / (COUNT(*) - 1), 6) AS zero_cross_rate
    FROM s GROUP BY doc_id ORDER BY doc_id
    """,
)
def media_wav_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode, oracle-checked end-to-end: wav_encode emits
    genuine RIFF/WAVE PCM16 files with closed-form samples;
    decode_audio REALLY walks the RIFF chunks and computes mean/RMS/
    zero-crossing-rate over the DECODED samples (exact integer sums →
    identical doubles). The DuckDB twin recomputes from the closed
    form — any header, endianness, or chunk-padding bug breaks the
    hash. Completes the real-codec family: image (PPM/BMP/PNG), audio
    (WAV), video (concatenated-PPM frames)."""
    d = load_tables(spark, sf_dir, ("documents",))["documents"].filter(F.col("doc_id") % 10 == 3)
    media = mm.wav_encode(d)
    out = mm.decode_audio(media)
    return out.select(
        "doc_id",
        "n_samples",
        "sample_rate",
        F.round("amp_mean", 6).alias("amp_mean"),
        F.round("amp_rms", 6).alias("amp_rms"),
        F.round("zero_cross_rate", 6).alias("zero_cross_rate"),
    ).orderBy("doc_id")


@register(
    "docs_weighted_sample",
    f"""
    WITH d AS (
        SELECT doc_id, lang, {_SQL_NTOK} AS n_tokens,
               CAST('0x' || substring(md5('ws-' || CAST(doc_id AS VARCHAR)), 1, 8)
                    AS BIGINT) AS h32
        FROM documents
    ),
    keyed AS (
        SELECT doc_id, lang, n_tokens,
               FLOOR(POW((CAST(h32 AS DOUBLE) + 1.0) / 4294967296.0,
                         1.0 / CAST(n_tokens AS DOUBLE)) * 1e12) AS es
        FROM d
    ),
    ranked AS (
        SELECT doc_id, lang, n_tokens,
               ROW_NUMBER() OVER (PARTITION BY lang ORDER BY es DESC, doc_id)
                   AS sample_rank
        FROM keyed
    )
    SELECT doc_id, lang, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(sample_rank AS BIGINT) AS sample_rank
    FROM ranked WHERE sample_rank <= 5
    ORDER BY lang, sample_rank
    """,
)
def docs_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-weighted sampling without replacement, 5 docs per
    language (Efraimidis-Spirakis A-ES, derandomized via content
    hashes — pipeline/sampling.py::weighted_sample_topk): longer docs
    are proportionally likelier, selection is reproducible across
    engines and re-ingestion."""
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    base = d.select("doc_id", "lang", tx.token_count(F.col("text")).alias("n_tokens"))
    return (
        smp.weighted_sample_topk(base, "lang", F.col("doc_id"), F.col("n_tokens"), 5)
        .select(
            "doc_id",
            "lang",
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
            F.col("sample_rank").cast("bigint").alias("sample_rank"),
        )
        .orderBy("lang", "sample_rank")
    )


@register(
    "docs_split_leakage_audit",
    f"""
    WITH labeled AS (
        SELECT doc_id,
               md5({_SQL_NORM}) AS fp,
               CASE WHEN {_SQL_BUCKET} < 80 THEN 'train'
                    WHEN {_SQL_BUCKET} < 90 THEN 'val'
                    ELSE 'test' END AS split
        FROM documents
    ),
    groups AS (
        SELECT fp,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(COUNT(DISTINCT split) AS BIGINT) AS n_splits,
               CAST(SUM(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
               CAST(SUM(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS BIGINT) AS n_test
        FROM labeled GROUP BY fp
        HAVING COUNT(*) > 1
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS dup_groups,
           CAST(COALESCE(SUM(CASE WHEN n_splits > 1 THEN 1 ELSE 0 END), 0) AS BIGINT)
               AS leaking_groups,
           CAST(COALESCE(SUM(n_train * n_test), 0) AS BIGINT) AS train_test_pairs
    FROM groups
    """,
)
def docs_split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test contamination audit — the composition check every
    training pipeline needs before a split ships: exact-duplicate
    groups (md5 fingerprint) crossed with the hash-bucket split
    assignment; reports duplicate groups, groups spanning >1 split,
    and the number of leaking train×test duplicate pairs (honest zeros
    when dedup-before-split did its job).

    Scale: fingerprint + split label ride the scan (narrow maps); ONE
    shuffle on the 16-byte digest aggregates per-group split counts;
    the report is a single-row re-aggregate. The near-dup version of
    this audit swaps the fingerprint for near_dup_clusters' cluster_id
    — same shape."""
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    labeled = d.select(
        tx.fingerprint(F.col("text")).alias("fp"),
        smp.assign_split(F.col("doc_id"), salt="doc-"),
    )
    groups = (
        labeled.groupBy("fp")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.count_distinct("split").cast("bigint").alias("n_splits"),
            F.sum(F.when(F.col("split") == "train", 1).otherwise(0)).cast("bigint").alias("n_train"),
            F.sum(F.when(F.col("split") == "test", 1).otherwise(0)).cast("bigint").alias("n_test"),
        )
        .filter(F.col("n_docs") > 1)
    )
    return groups.agg(
        F.count(F.lit(1)).cast("bigint").alias("dup_groups"),
        F.coalesce(
            F.sum(F.when(F.col("n_splits") > 1, 1).otherwise(0)), F.lit(0)
        ).cast("bigint").alias("leaking_groups"),
        F.coalesce(F.sum(F.col("n_train") * F.col("n_test")), F.lit(0))
        .cast("bigint")
        .alias("train_test_pairs"),
    )


@register("embedding_pq_topk", None)
def embedding_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization approximate top-k (ADC + exact rescore) —
    the highest-compression ANN family member (m code bytes per
    vector). Approximate by construction -> no SQL oracle;
    planted-neighbor recall pinned in tests/test_similarity_pq.py."""
    e = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    q = e.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding")
    )
    return sim.pq_topk(e, q, k=5, m=8, n_codes=32, oversample=8).orderBy("query_id", "rank")


@register(
    "docs_bigram_lm_scores",
    f"""
    WITH tok AS (
        SELECT id, pos, t FROM (
            SELECT doc_id AS id,
                   generate_subscripts(toks, 1) AS pos,
                   unnest(toks) AS t
            FROM (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents)
        ) WHERE t <> ''
    ),
    big AS (
        SELECT a.id, a.t AS w1, b.t AS w2
        FROM tok a JOIN tok b ON a.id = b.id AND b.pos = a.pos + 1
        WHERE b.t <> ''
    ),
    pair_counts AS (
        SELECT w1, w2, COUNT(*) AS c12 FROM big GROUP BY w1, w2
    ),
    prefix_counts AS (
        SELECT w1, SUM(c12) AS c1 FROM pair_counts GROUP BY w1
    ),
    per AS (
        SELECT big.id,
               ROUND(-ln(CAST(pc.c12 AS DOUBLE) / CAST(pf.c1 AS DOUBLE)), 6) AS s
        FROM big
        JOIN pair_counts pc ON big.w1 = pc.w1 AND big.w2 = pc.w2
        JOIN prefix_counts pf ON big.w1 = pf.w1
    )
    SELECT id AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           ROUND(CAST(SUM(CAST(s AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6)
               AS bigram_lm_score
    FROM per GROUP BY id ORDER BY doc_id
    """,
)
def docs_bigram_lm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean conditional bigram surprisal per document under the
    corpus's own bigram statistics (pipeline/text.py::bigram_lm_scores)
    — next-token predictability, separating rare-word documents from
    rare-transition documents when read next to the unigram score.

    Adjacency agreement: the Spark side pairs via lead() after
    dropping empty tokens, the SQL side joins raw positions pos+1 —
    these coincide because the tokenizer cannot emit interior empties
    (normalize collapses runs of whitespace before the single-space
    split), so an empty token only ever appears alone for blank text."""
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    return tx.bigram_lm_scores(d).orderBy("doc_id")


@register(
    "docs_token_typo_pairs",
    f"""
    WITH tok AS (
        SELECT t AS token, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM (SELECT unnest({_SQL_TOKS}) AS t FROM documents)
        WHERE t <> ''
        GROUP BY t
    )
    SELECT a.token AS tok_a, b.token AS tok_b,
           CAST(levenshtein(a.token, b.token) AS INTEGER) AS dist,
           a.cnt AS count_a, b.cnt AS count_b
    FROM tok a JOIN tok b ON a.token < b.token
    WHERE levenshtein(a.token, b.token) <= 2
    ORDER BY tok_a, tok_b
    """,
)
def docs_token_typo_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typo/variant canonicalization over the corpus token dictionary:
    every unordered token pair within Levenshtein distance 2, with
    corpus frequencies — the fuzzy-match primitive behind spell-
    normalization and entity resolution (pipeline/fuzzy.py).

    Scale: the corpus collapses to its DISTINCT-token dictionary with
    one count aggregate (the only step that sees the 100 TB); pair
    discovery is SymSpell deletion-neighborhood blocking — an equi-
    join on deletion variants, O(|dict|·L²) rows, NOT the O(|dict|²)
    brute force the oracle runs — plus an exact levenshtein verify,
    so the result is exact and hash-matches the quadratic twin.
    Frequencies join back via broadcast (dictionary ≪ corpus)."""
    from csv_query_engine_spark.pipeline import fuzzy as fz

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    counts = (
        docs.select(F.explode(tx.tokens(F.col("text"))).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .persist()
    )
    pairs = fz.fuzzy_pairs(counts, "token", max_dist=2)
    ca = counts.select(F.col("token").alias("tok_a"), F.col("cnt").alias("count_a"))
    cb = counts.select(F.col("token").alias("tok_b"), F.col("cnt").alias("count_b"))
    return (
        pairs.join(F.broadcast(ca), "tok_a")
        .join(F.broadcast(cb), "tok_b")
        .select(
            "tok_a",
            "tok_b",
            F.col("dist").cast("integer").alias("dist"),
            "count_a",
            "count_b",
        )
        .orderBy("tok_a", "tok_b")
    )


@register("docs_bpe_subword_tokens", None)
def docs_bpe_subword_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE tokenizer training + encoding end-to-end
    (pipeline/bpe.py): learn a merge table from the corpus word
    dictionary, encode every distinct word, and roll up corpus subword
    frequencies — the tokenizer-training half of an LLM data pipeline.

    No SQL oracle: the merge loop is iterative argmax state, not
    expressible in one DuckDB query; tests/test_bpe.py instead locks
    the algorithm to a pure-Python Sennrich reference (identical
    merges, counts, tie-breaks, encodings).

    Scale: the ONLY corpus-scale step is the one word-count aggregate;
    the merge loop and the encoder run on the distinct-word dictionary
    (~10^7-10^8 rows web-scale, distributed, localCheckpoint'ed per
    round), and per-round driver traffic is exactly one argmax row.
    Corpus subword counts come from the dictionary itself (freq ×
    occurrences-in-word), so the 100 TB text is read exactly once."""
    from csv_query_engine_spark.pipeline import bpe

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    words = (
        docs.select(F.explode(tx.tokens(F.col("text"))).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .persist()
    )
    merges = bpe.learn_bpe(words, num_merges=10)
    encoded = bpe.encode_words(words, [(l, r) for l, r, _ in merges])
    return (
        encoded.join(words, "word")
        .select(F.explode("subwords").alias("subword"), F.col("freq"))
        .groupBy("subword")
        .agg(F.sum("freq").cast("long").alias("n_tokens"))
        .orderBy(F.col("n_tokens").desc(), "subword")
    )


@register("docs_unigram_tokenizer_tokens", None)
def docs_unigram_tokenizer_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM (SentencePiece-style) tokenizer training + encoding
    end-to-end (pipeline/unigram.py, Kudo 2018) — the second tokenizer
    family next to BPE (docs_bpe_subword_tokens), learning a
    probabilistic piece vocabulary by Viterbi-EM + loss-based pruning:
    train on the corpus word dictionary, Viterbi-encode every distinct
    word, roll up corpus piece frequencies.

    No SQL oracle: the EM/prune loop is iterative state; the
    distributed path is instead locked piece-for-piece to the
    pure-Python driver loop in tests/test_unigram.py (the
    Sennrich-lock precedent).

    Scale: the BPE contract — the only corpus-scale step is the one
    word-count aggregate; training/encoding run on the bounded
    distinct-word dictionary (zero jobs per round under the driver
    bound, one Arrow-batched Viterbi job per round past it)."""
    from csv_query_engine_spark.pipeline import unigram as ug

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    words = (
        docs.select(F.explode(tx.tokens(F.col("text"))).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .persist()
    )
    pieces = ug.learn_unigram(words, vocab_size=64, seed_size=256, max_piece_len=4)
    encoded = ug.encode_unigram(words, pieces)
    return (
        encoded.join(words, "word")
        .select(F.explode("pieces").alias("piece"), F.col("freq"))
        .groupBy("piece")
        .agg(F.sum("freq").cast("long").alias("n_tokens"))
        .orderBy(F.col("n_tokens").desc(), "piece")
    )


@register("docs_wordpiece_tokens", None)
def docs_wordpiece_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WordPiece tokenizer training + encoding end-to-end
    (pipeline/wordpiece.py, Schuster & Nakajima 2012 — the BERT
    tokenizer) — the THIRD tokenizer family: likelihood-gain merges
    (pair count normalized by both parts' counts) instead of BPE's raw
    counts, greedy longest-match encoding with ##-continuations and
    [UNK] instead of merge-rank replay; corpus piece frequencies
    rolled up like its siblings.

    No SQL oracle (iterative argmax state); both loop paths are locked
    to a naive pure-Python reference in tests/test_wordpiece.py.

    Scale: the BPE dictionary contract — one corpus word-count
    aggregate, zero jobs per merge under the driver bound, two
    bounded jobs per merge past it; scores use the overflow-free
    (c/cl)/cr division sequence identically in both paths."""
    from csv_query_engine_spark.pipeline import wordpiece as wp

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    words = (
        docs.select(F.explode(tx.tokens(F.col("text"))).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .persist()
    )
    merges = wp.learn_wordpiece(words, num_merges=12)
    # initial symbol set derived distributed (charset-bounded distinct,
    # never a second full-dictionary collect): first chars bare, every
    # later char ##-prefixed
    sym_rows = (
        words.select(F.substring("word", 1, 1).alias("s"))
        .unionByName(
            words.select(
                F.explode(F.split(F.expr("substring(word, 2)"), "")).alias("c")
            )
            .filter(F.col("c") != "")
            .select(F.concat(F.lit("##"), F.col("c")).alias("s"))
        )
        .distinct()
        .collect()
    )
    vocab = wp.vocab_from_merges({r["s"] for r in sym_rows}, merges)
    encoded = wp.encode_words(words, vocab)
    return (
        encoded.join(words, "word")
        .select(F.explode("pieces").alias("piece"), F.col("freq"))
        .groupBy("piece")
        .agg(F.sum("freq").cast("long").alias("n_tokens"))
        .orderBy(F.col("n_tokens").desc(), "piece")
    )


@register(
    "docs_heavy_hitter_tokens",
    f"""
    WITH t AS (SELECT unnest({_SQL_TOKS}) AS token FROM documents),
    tt AS (SELECT token FROM t WHERE token <> ''),
    n AS (SELECT COUNT(*) AS n FROM tt)
    SELECT token, CAST(COUNT(*) AS BIGINT) AS n_occ
    FROM tt, n
    GROUP BY token, n.n
    HAVING COUNT(*) > n.n // 64
    ORDER BY token
    """,
)
def docs_heavy_hitter_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter tokens (count > N/64) via per-partition Misra-Gries
    summaries + exact candidate verification (pipeline/sketches.py).
    The output is exact — the sketch only bounds WHAT shuffles — so the
    DuckDB twin is the plain GROUP BY/HAVING form.

    Scale: pass 1 is map-only with O(k) state per task and ships
    ≤ (k+1)·P summary rows; pass 2 shuffles only rows matching the
    ≤ k·P broadcast candidates. The naive twin shuffles the whole
    distinct-token dictionary — the thing the sketch avoids at 100 TB."""
    from csv_query_engine_spark.pipeline.sketches import heavy_hitters

    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    return heavy_hitters(d, k=64).orderBy("token")


@register(
    "docs_kneser_ney_scores",
    f"""
    WITH tok AS (
        SELECT id, pos, t FROM (
            SELECT doc_id AS id,
                   generate_subscripts(toks, 1) AS pos,
                   unnest(toks) AS t
            FROM (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents)
        ) WHERE t <> ''
    ),
    big AS (
        SELECT a.id, a.t AS w1, b.t AS w2
        FROM tok a JOIN tok b ON a.id = b.id AND b.pos = a.pos + 1
        WHERE b.t <> ''
    ),
    pair_counts AS (
        SELECT w1, w2, COUNT(*) AS c12 FROM big GROUP BY w1, w2
    ),
    pre AS (
        SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1, COUNT(*) AS nsucc
        FROM pair_counts GROUP BY w1
    ),
    npred AS (SELECT w2, COUNT(*) AS npred FROM pair_counts GROUP BY w2),
    types AS (SELECT COUNT(*) AS tt FROM pair_counts),
    per AS (
        SELECT big.id,
               CAST(FLOOR(-ln(
                   greatest(CAST(pc.c12 AS DOUBLE) - CAST(0.75 AS DOUBLE),
                            CAST(0.0 AS DOUBLE)) / pre.c1
                   + CAST(0.75 AS DOUBLE) * pre.nsucc / pre.c1
                     * (npred.npred / types.tt)
               ) * 1e6 + 0.5) AS BIGINT) AS su
        FROM big
        JOIN pair_counts pc ON big.w1 = pc.w1 AND big.w2 = pc.w2
        JOIN pre ON big.w1 = pre.w1
        JOIN npred ON big.w2 = npred.w2
        CROSS JOIN types
    )
    SELECT id AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           FLOOR(CAST(SUM(su) AS BIGINT) / COUNT(*) + 0.5) / 1e6 AS kn_lm_score
    FROM per GROUP BY id ORDER BY doc_id
    """,
)
def docs_kneser_ney_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram surprisal per document
    (pipeline/text.py::kneser_ney_scores) — the production smoothing
    whose continuation term scores how many CONTEXTS a word follows,
    completing the LM-scoring family (unigram frequency → raw bigram
    conditional → smoothed KN). All inputs are integer counts and the
    discount is dyadic, so the probability doubles reproduce bit-exact
    across engines (literals CAST AS DOUBLE — the decimal hazard)."""
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    return tx.kneser_ney_scores(d).orderBy("doc_id")


def _kmeans_oracle() -> str:
    from csv_query_engine_spark.pipeline.similarity import sql_kmeans

    return sql_kmeans(k=8, iterations=3)


@register("embedding_kmeans_clusters", _kmeans_oracle())
def embedding_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact fixed-point k-means over the embedding corpus (pipeline/
    similarity.py::kmeans_clusters): 3 Lloyd iterations, k=8,
    coordinates quantized once to scale-6 longs so every distance is an
    exact integer and every intermediate iteration is bit-equal to the
    unrolled-CTE DuckDB twin — clustering joins PageRank as the second
    fully oracle-paired ITERATIVE algorithm (IVF's float k-means is the
    rows-only sibling).

    Scale: per iteration one codegen'd integer join of the persisted
    (id, pos, xq) dims table against the broadcast k×64 centroid table
    + one partial+final aggregate; centroids (k×dim longs) are the only
    driver-sized object."""
    from csv_query_engine_spark.pipeline.similarity import kmeans_clusters

    e = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    return kmeans_clusters(e, k=8, iterations=3).orderBy("vec_id")


def _semantic_pairs_oracle() -> str:
    from csv_query_engine_spark.pipeline.similarity import sql_semantic_pairs

    return sql_semantic_pairs(k=8, iterations=3, threshold=0.4)


@register("dedup_semantic_pairs", _semantic_pairs_oracle())
def dedup_semantic_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023) semantic near-duplicate pairs over
    the embedding corpus (pipeline/similarity.py::semantic_dedup_pairs):
    k-means buckets, then exact quantized-integer cosine WITHIN each
    cluster — the embedding-space dedup member that catches paraphrases
    MinHash/SimHash token shingles can't see, fully oracle-paired
    (the k-means twin nests as a CTE; dot products and norms are exact
    integers; the one float step is FLOOR-quantized).

    The 0.40 threshold is calibrated to the synthetic harness corpus
    (unit-norm vectors, max pairwise cosine ≈ 0.48 — a production
    paraphrase threshold like the operator's 0.92 default would report
    honest zeros, the pii_scrub precedent; planted-paraphrase recall at
    realistic thresholds is pytest-covered in tests/test_semantic_dedup.py).

    Scale: per-cluster quadratic with k scaling to bound cluster size
    (the paper's containment argument) — never all-pairs."""
    from csv_query_engine_spark.pipeline.similarity import semantic_dedup_pairs

    e = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    return semantic_dedup_pairs(e, k=8, iterations=3, threshold=0.4)


def _linear_quality_oracle() -> str:
    from csv_query_engine_spark.pipeline.features import sql_linear_quality

    return sql_linear_quality("documents", _SQL_TOKS)


@register("docs_quality_classifier_scores", _linear_quality_oracle())
def docs_quality_classifier_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-style linear quality classifier over hashed features
    (pipeline/features.py::linear_quality_scores) — the LEARNED quality
    gate next to the rule-based Gopher path (docs_quality_filter):
    sigmoid of a weight vector dotted with length-normalized
    hashing-trick counts. Deterministic hash-derived weights keep the
    query oracle-pairable; a production run swaps in trained weights
    with the identical plan.

    Scale: the classifier itself adds ZERO distributed work beyond the
    feature aggregation — d codegen'd multiply-adds per doc row, the
    weights are plan literals (no broadcast, no join, no Python)."""
    from csv_query_engine_spark.pipeline.features import linear_quality_scores

    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    return linear_quality_scores(d).orderBy("doc_id")


def _bm25_oracle() -> str:
    from csv_query_engine_spark.pipeline.retrieval import sql_bm25_topk

    return sql_bm25_topk("documents", _SQL_TOKS)


@register("docs_bm25_top_docs", _bm25_oracle())
def docs_bm25_top_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 retrieval (pipeline/retrieval.py::bm25_topk): top-20
    documents scored against the corpus's own 8 highest-df tokens — the
    lexical-retrieval member next to tf-idf and the embedding ANN
    family, i.e. the query a RAG/curation pipeline runs to surface
    supporting or contaminating documents.

    Scale: one persisted token explode feeds tf/df/lengths; the query
    terms broadcast into the tf join; per-term scores quantize to long
    units before the per-doc exact sum; ln is the one transcendental
    and is FLOOR-quantized immediately (pre-rounded-ln precedent)."""
    from csv_query_engine_spark.pipeline.retrieval import bm25_topk

    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    return bm25_topk(d)


def _span_removal_oracle() -> str:
    from csv_query_engine_spark.pipeline.text import sql_remove_duplicate_spans

    return sql_remove_duplicate_spans("documents", _SQL_TOKS, n=8)


@register("docs_duplicate_span_removal", _span_removal_oracle())
def docs_duplicate_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-span removal (pipeline/text.py::
    remove_duplicate_spans) — the WRITE side of
    docs_duplicate_span_fraction and the ExactSubstr recipe of Lee et
    al. 2022: tokens covered by any 8-gram occurring ≥2 times in the
    corpus are excised and the cleaned text reassembled byte-exactly
    (oracle-paired down to the string). Scale: one gram-position
    explode + hashed-gram occurrence count + (id, tpos) anti join +
    bounded per-doc reassembly — linear, no quadratics, no Python."""
    from csv_query_engine_spark.pipeline.text import remove_duplicate_spans

    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    return remove_duplicate_spans(d, n=8).orderBy("doc_id")


def _hybrid_rrf_oracle() -> str:
    from csv_query_engine_spark.pipeline.retrieval import sql_hybrid_rrf

    return sql_hybrid_rrf("documents", "embeddings", _SQL_TOKS)


@register("docs_hybrid_retrieval_rrf", _hybrid_rrf_oracle())
def docs_hybrid_retrieval_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid BM25+vector retrieval fused by reciprocal rank
    (pipeline/retrieval.py::hybrid_rrf_topk) — the standard RAG
    retrieval stack: the corpus-derived BM25 top-50 and the cosine
    top-50 against the vec_id=0 query embedding, fused with
    1/(60+rank) per list (Cormack et al. 2009), top-20 out.

    Fully oracle-paired: ranks are integers, reciprocals are single
    IEEE divisions, and the fused score FLOOR-quantizes at 1e-9 before
    the tiebroken top-n. Scale: fusion happens on two ALREADY-bounded
    lists (broadcast-sized outer join + triangular rank); the corpus-
    scale plans are the two underlying operators', unchanged."""
    from csv_query_engine_spark.pipeline.retrieval import hybrid_rrf_topk

    t = load_tables(spark, sf_dir, ("documents", "embeddings"))
    return hybrid_rrf_topk(t["documents"], t["embeddings"]).orderBy("doc_id")


_PHASH_ORACLE = """
    WITH ids AS (SELECT doc_id AS id FROM documents),
    pix AS (SELECT id, unnest(generate_series(0, (16+id%16)*(8+id%8)-1)) AS q FROM ids),
    g AS (SELECT id,
            (q % (16+id%16)) AS x, (q // (16+id%16)) AS y,
            ( ((id*31 + 7*(3*q)) % 256)
            + ((id*31 + 7*(3*q+1)) % 256)
            + ((id*31 + 7*(3*q+2)) % 256)) // 3 AS gray
          FROM pix),
    c AS (SELECT id, ((y*8) // (8+id%8)) * 8 + ((x*8) // (16+id%16)) AS cell, gray FROM g),
    cm AS (SELECT id, cell, CAST(SUM(gray) AS BIGINT) // CAST(COUNT(*) AS BIGINT) AS mean
           FROM c GROUP BY id, cell),
    m AS (SELECT id, CAST(SUM(mean) AS BIGINT) // 64 AS gm FROM cm GROUP BY id),
    b AS (SELECT cm.id, cell AS j, CASE WHEN mean > gm THEN 1 ELSE 0 END AS bit
          FROM cm JOIN m ON cm.id = m.id),
    h AS (SELECT id, SUM(CAST(bit AS HUGEINT)
                         * (CAST(1 AS HUGEINT) << CAST(j AS INT))) AS hv
          FROM b GROUP BY id),
    fp AS (SELECT id, CAST(CASE WHEN hv >= CAST(1 AS HUGEINT) << 63
                                THEN hv - (CAST(1 AS HUGEINT) << 64)
                                ELSE hv END AS BIGINT) AS ph FROM h)
    SELECT a.id AS doc_id_a, b.id AS doc_id_b,
           CAST(bit_count(xor(a.ph, b.ph)) AS INT) AS hamming
    FROM fp a JOIN fp b ON a.id < b.id
    WHERE bit_count(xor(a.ph, b.ph)) <= 3
    ORDER BY doc_id_a, doc_id_b
    """


@register("media_phash_dup_pairs", _PHASH_ORACLE)
def media_phash_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-duplicate pairs by perceptual average-hash over REAL
    decoded pixels (pipeline/multimodal.py::phash_dup_pairs): ppm_encode
    emits genuine binary P6 blobs whose closed-form pixel rule makes
    ids congruent mod 256 (with equal raster shape) encode IDENTICAL
    images — planted exact dups the aHash must recover at Hamming 0 —
    while everything else scatters across ~256 distinct hashes
    (verified distribution).

    FULLY ORACLE-PAIRED via the closed form (upgraded from rows-only
    late round 8, the audio-pairs precedent): the DuckDB twin
    recomputes each raster's pixels arithmetically, reproduces the
    all-integer grayscale → 8×8 pooled means → global-mean threshold →
    two's-complement hash, and runs the QUADRATIC hamming join — so
    the decode, the aHash, and the banded blocking are verified
    end-to-end (bands pigeonhole-complete at Hamming ≤ 3; max_bucket
    can't trigger below 10k docs). Recall/precision additionally
    pytest-locked (tests/test_phash.py).

    Scale: pixels never shuffle (8-byte hashes do); 4×16-bit band
    buckets with a max_bucket guard keep the candidate join bounded —
    the SimHash pigeonhole applied to images."""
    from csv_query_engine_spark.pipeline import multimodal as mm

    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    media = mm.ppm_encode(d)
    return mm.phash_dup_pairs(media, max_hamming=3)


_AUDIO_FP_ORACLE = """
    WITH ids AS (SELECT doc_id AS id FROM documents),
    k AS (SELECT id, unnest(generate_series(0, 255 + id % 256)) AS k FROM ids),
    s AS (SELECT id, (k*65) // (256 + id % 256) AS seg,
                 ((id*37 + 11*k) % 4096 - 2048) AS v FROM k),
    e AS (SELECT id, seg, CAST(SUM(v*v) AS BIGINT) AS en FROM s GROUP BY id, seg),
    b AS (SELECT a.id, a.seg AS j,
                 CASE WHEN a.en > c.en THEN 1 ELSE 0 END AS bit
          FROM e a JOIN e c ON a.id = c.id AND c.seg = a.seg + 1
          WHERE a.seg < 64),
    h AS (SELECT id, SUM(CAST(bit AS HUGEINT)
                         * (CAST(1 AS HUGEINT) << CAST(j AS INT))) AS hv
          FROM b GROUP BY id),
    fp AS (SELECT id, CAST(CASE WHEN hv >= CAST(1 AS HUGEINT) << 63
                                THEN hv - (CAST(1 AS HUGEINT) << 64)
                                ELSE hv END AS BIGINT) AS afp FROM h)
    SELECT a.id AS doc_id_a, b.id AS doc_id_b,
           CAST(bit_count(xor(a.afp, b.afp)) AS INT) AS hamming
    FROM fp a JOIN fp b ON a.id < b.id
    WHERE bit_count(xor(a.afp, b.afp)) <= 3
    ORDER BY doc_id_a, doc_id_b
    """


@register("media_audio_dup_pairs", _AUDIO_FP_ORACLE)
def media_audio_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio near-duplicate pairs by integer energy-envelope fingerprint
    over REAL decoded RIFF/WAVE samples (pipeline/multimodal.py::
    audio_dup_pairs) — completes the dedup family's modality coverage
    (text shingles / embeddings / pixels / AUDIO). wav_encode's closed
    form makes ids differing by exactly 4096 (same length, same samples
    mod 4096, since 4096 = 16·256) encode IDENTICAL clips — planted
    exact dups the fingerprint must recover at Hamming 0 (ids ≥ 4096
    exist from sf0.1 up) — and its phase-shifted sawtooths of equal
    length are genuine near-dup ENVELOPES, so smaller SFs surface
    hamming 1-3 pairs (118 at sf0.01), which is the correct reading of
    that audio.

    FULLY ORACLE-PAIRED via the closed form (the wav_decode_stats
    precedent, upgraded from rows-only round 8): the DuckDB twin
    recomputes the samples arithmetically, takes exact integer segment
    energies, assembles the two's-complement hash in HUGEINT, and runs
    the QUADRATIC hamming join — so the decode, the fingerprint, AND
    the banded blocking are verified end-to-end (4×16-bit bands are
    pigeonhole-complete at Hamming ≤ 3 and max_bucket can't trigger
    below 10k docs, so the banded output must equal the quadratic
    truth). Planted-dup recall and gain invariance additionally
    pytest-locked (tests/test_audio_fp.py).

    Scale: audio bytes never shuffle (8-byte fingerprints do); the
    4×16-bit pigeonhole band join is shared with the image path."""
    from csv_query_engine_spark.pipeline import multimodal as mm

    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    media = mm.wav_encode(d)
    return mm.audio_dup_pairs(media, max_hamming=3)


_VIDEO_FH_ORACLE = """
    WITH ids AS (SELECT doc_id AS id FROM documents),
    fr AS (SELECT id, unnest(generate_series(0, 3 + id % 4)) AS f FROM ids),
    pix AS (SELECT id, f, unnest(generate_series(0, (16+id%16)*(8+id%8)-1)) AS q FROM fr),
    g AS (SELECT id, f,
            (q % (16+id%16)) AS x, (q // (16+id%16)) AS y,
            ( ((id*31 + 13*f + 7*(3*q)) % 256)
            + ((id*31 + 13*f + 7*(3*q+1)) % 256)
            + ((id*31 + 13*f + 7*(3*q+2)) % 256)) // 3 AS gray
          FROM pix),
    c AS (SELECT id, f, ((y*8) // (8+id%8)) * 8 + ((x*8) // (16+id%16)) AS cell, gray FROM g),
    cm AS (SELECT id, f, cell, CAST(SUM(gray) AS BIGINT) // CAST(COUNT(*) AS BIGINT) AS mean
           FROM c GROUP BY id, f, cell),
    m AS (SELECT id, f, CAST(SUM(mean) AS BIGINT) // 64 AS gm FROM cm GROUP BY id, f),
    b AS (SELECT cm.id, cm.f, cell AS j, CASE WHEN mean > gm THEN 1 ELSE 0 END AS bit
          FROM cm JOIN m ON cm.id = m.id AND cm.f = m.f),
    h AS (SELECT id, f, SUM(CAST(bit AS HUGEINT)
                            * (CAST(1 AS HUGEINT) << CAST(j AS INT))) AS hv
          FROM b GROUP BY id, f),
    fp AS (SELECT DISTINCT id,
                  CAST(CASE WHEN hv >= CAST(1 AS HUGEINT) << 63
                            THEN hv - (CAST(1 AS HUGEINT) << 64)
                            ELSE hv END AS BIGINT) AS fhash FROM h)
    SELECT a.id AS doc_id_a, b.id AS doc_id_b, CAST(COUNT(*) AS BIGINT) AS n_shared
    FROM fp a JOIN fp b ON a.id < b.id AND a.fhash = b.fhash
    GROUP BY a.id, b.id HAVING COUNT(*) >= 2
    ORDER BY doc_id_a, doc_id_b
    """


@register("media_video_dup_pairs", _VIDEO_FH_ORACLE)
def media_video_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video near-duplicate pairs by frame-fingerprint overlap
    (pipeline/multimodal.py::video_dup_pairs): ppm_video_encode emits
    REAL concatenated-PPM streams (4-7 frames each, the image2pipe
    container), each frame is aHashed with the image path's exact
    integer pooling, and pairs sharing ≥2 distinct frame hashes
    surface — the standard keyframe-overlap video dedup that catches
    trims/re-cuts a whole-file hash misses. Ids congruent mod 256
    encode identical videos (planted dups).

    FULLY ORACLE-PAIRED via the closed form (the audio/image
    precedent): the DuckDB twin recomputes every frame's pixels
    arithmetically, reproduces the per-frame aHash, and runs the exact
    shared-hash pair join — frame walk + hash + blocking verified end
    to end (exact-hash equality IS the blocking; max_bucket can't
    trigger below 10k docs). Completes the modality set: shingles /
    embeddings / pixels / audio / VIDEO.

    Scale: video bytes never shuffle — only (doc_id, 8-byte hash)
    rows; the pair join is keyed on the exact hash with a degenerate-
    bucket guard."""
    from csv_query_engine_spark.pipeline import multimodal as mm

    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    media = mm.ppm_video_encode(d)
    return mm.video_dup_pairs(media, min_shared=2)


def _pseudonymized_oracle() -> str:
    from csv_query_engine_spark.pipeline.privacy import sql_pseudonym

    return f"""
    SELECT {sql_pseudonym("c_custkey", "pz-")} AS cust_token,
           {sql_pseudonym("c_name", "pz-")} AS name_token,
           c_mktsegment,
           c_nationkey,
           c_acctbal
    FROM customer ORDER BY cust_token
    """


@register("customer_pseudonymized_export", _pseudonymized_oracle())
def customer_pseudonymized_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic pseudonymized export of the customer dimension
    (pipeline/privacy.py): the natural key and name replaced by salted
    sha256 tokens — join-able pseudonyms (the same key always maps to
    the same token, so fact tables pseudonymized with the same salt
    still join), NULLs preserved — while the quasi-identifiers
    analytics needs (segment, nation, balance) pass through. Ordered by
    the token itself: the export carries no trace of the original key
    order. The privacy transform a dataset crosses the trust boundary
    with.

    Scale: pure per-row codegen'd projection — zero shuffle/state/
    Python; sha2 is JVM-side. Fully oracle-paired (Spark sha2(x,256)
    == DuckDB sha256(x), lowercase hex both)."""
    from csv_query_engine_spark.pipeline.privacy import pseudonym

    c = load_tables(spark, sf_dir, ("customer",))["customer"]
    return c.select(
        pseudonym(F.col("c_custkey"), "pz-").alias("cust_token"),
        pseudonym(F.col("c_name"), "pz-").alias("name_token"),
        "c_mktsegment",
        "c_nationkey",
        "c_acctbal",
    ).orderBy("cust_token")


@register(
    "docs_ngram_novelty",
    f"""
    WITH d AS (
        SELECT doc_id, {_SQL_TOKS} AS toks FROM documents
    ),
    pairs AS (
        SELECT DISTINCT doc_id, g FROM (
            SELECT doc_id,
                   unnest(CASE WHEN len(toks) >= 3
                        THEN list_transform(range(1, len(toks) - 1),
                                            i -> array_to_string(list_slice(toks, i, i + 2), ' '))
                        ELSE [] END) AS g
            FROM d
        )
    ),
    first AS (SELECT g, MIN(doc_id) AS first_id FROM pairs GROUP BY g),
    per_doc AS (
        SELECT pairs.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_grams,
               CAST(SUM(CASE WHEN first.first_id < pairs.doc_id THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_seen_before
        FROM pairs JOIN first USING (g)
        GROUP BY pairs.doc_id
    )
    SELECT d.doc_id,
           CAST(COALESCE(per_doc.n_grams, 0) AS BIGINT) AS n_grams,
           CAST(COALESCE(per_doc.n_seen_before, 0) AS BIGINT) AS n_seen_before,
           COALESCE(FLOOR(CAST(per_doc.n_grams - per_doc.n_seen_before AS DOUBLE)
                          / CAST(per_doc.n_grams AS DOUBLE) * 1e6 + 0.5) / 1e6,
                    CAST(1.0 AS DOUBLE)) AS novelty
    FROM d LEFT JOIN per_doc USING (doc_id)
    ORDER BY d.doc_id
    """,
)
def docs_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document trigram novelty against everything ingested before
    it (pipeline/text.py::ngram_novelty) — the curation-diversity
    signal: a falling novelty curve means the corpus is saturating, and
    per-doc low novelty flags boilerplate the pairwise dedup family
    then localizes.

    Scale: two gram-keyed shuffles (distinct pairs, then min-first-seer
    joined back), linear in corpus grams; Spark keys the shuffle on
    xxhash64(gram) while the oracle groups the raw strings — counts
    match up to the documented ~3e-10 collision odds."""
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    return tx.ngram_novelty(d, n=3)


@register(
    "docs_group_holdout_split",
    f"""
    WITH fp AS (
        SELECT doc_id, md5({_SQL_NORM}) AS fp FROM documents
    ),
    b AS (
        SELECT doc_id, fp,
               CASE WHEN bk < 80 THEN 'train'
                    WHEN bk < 90 THEN 'val'
                    ELSE 'test' END AS split
        FROM (
            SELECT doc_id, fp,
                   CAST(concat('0x', substr(md5(concat('gh-', fp)), 1, 8))
                        AS BIGINT) % 100 AS bk
            FROM fp
        )
    ),
    per_split AS (
        SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_groups
        FROM b GROUP BY split
    ),
    spanning AS (
        SELECT CAST(COALESCE(SUM(CASE WHEN ns > 1 THEN 1 END), 0) AS BIGINT)
                   AS n_spanning_groups
        FROM (SELECT fp, COUNT(DISTINCT split) AS ns FROM b GROUP BY fp)
    )
    SELECT split, n_docs, n_groups, n_spanning_groups
    FROM per_split CROSS JOIN spanning
    ORDER BY split
    """,
)
def docs_group_holdout_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-holdout train/val/test split (pipeline/sampling.py::
    group_holdout_split): assignment keyed on the exact-dedup
    fingerprint GROUP instead of the row, so duplicated documents
    cannot span train and test — the constructive complement of
    docs_split_leakage_audit (which detects spanning after the fact).
    n_spanning_groups is the self-certifying proof column (0 by
    construction: identical fingerprint ⇒ identical bucket).

    Scale: per-row fingerprint+bucket projection, then two
    fingerprint-keyed aggregates — linear, no quadratics, the md5
    cross-engine idiom throughout."""
    from csv_query_engine_spark.pipeline.sampling import group_holdout_split

    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    return group_holdout_split(d)


def _dsir_oracle() -> str:
    from csv_query_engine_spark.pipeline.features import sql_dsir_importance

    w = sql_dsir_importance("documents", _SQL_TOKS, "lang = 'en'")
    return f"""
    WITH w AS ({w}),
    top AS (SELECT * FROM w ORDER BY dsir_logweight DESC, doc_id LIMIT 50)
    SELECT doc_id, n_feats, dsir_logweight,
           CAST(ROW_NUMBER() OVER (ORDER BY dsir_logweight DESC, doc_id)
                AS BIGINT) AS sel_rank
    FROM top ORDER BY sel_rank
    """


@register("docs_dsir_selection", _dsir_oracle())
def docs_dsir_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection (pipeline/features.py::
    dsir_importance_weights; Xie et al., NeurIPS 2023): the top-50
    POOL documents (lang <> 'en') by hashed-n-gram importance weight
    against the lang = 'en' TARGET distribution — the
    importance-resampling recipe for picking pretraining data that
    matches a high-quality exemplar corpus (deterministic top-k
    variant of the paper's Gumbel resampling, so it oracle-pairs).

    Fully oracle-paired: md5 buckets, one FLOOR-quantized ln of an
    integer ratio per bucket, exact integer dot products per doc, and
    a unique-key tiebroken LIMIT. Scale: one gram explode, one
    bucket-sized aggregation, a BROADCAST log-ratio join, one per-doc
    aggregation; the rank is a triangular broadcast self-join on the
    already-LIMITed 50 rows (no unpartitioned window)."""
    from csv_query_engine_spark.pipeline.features import dsir_importance_weights

    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    w = dsir_importance_weights(d, F.col("lang") == "en")
    top = w.orderBy(F.col("dsir_logweight").desc(), "doc_id").limit(50).persist()
    before = (F.col("b.dsir_logweight") > F.col("a.dsir_logweight")) | (
        (F.col("b.dsir_logweight") == F.col("a.dsir_logweight"))
        & (F.col("b.doc_id") <= F.col("a.doc_id"))
    )
    return (
        top.alias("a")
        .join(F.broadcast(top.alias("b")), before)
        .groupBy(F.col("a.doc_id"), F.col("a.n_feats"), F.col("a.dsir_logweight"))
        .agg(F.count(F.lit(1)).cast("long").alias("sel_rank"))
        .select(
            F.col("doc_id"),
            F.col("n_feats"),
            F.col("dsir_logweight"),
            F.col("sel_rank"),
        )
        .orderBy("sel_rank")
    )


def _jl_oracle() -> str:
    from csv_query_engine_spark.pipeline.similarity import sql_random_projection

    return sql_random_projection()


@register("embedding_jl_projection", _jl_oracle())
def embedding_jl_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss random-projection sketch of the embedding
    table (pipeline/similarity.py::random_projection_sketch; Achlioptas
    2003 ±1 entries): 64 floats → 8 exact integer coordinates per
    vector — the compression stage in front of the ANN family (store
    less, shuffle less, band on the sketch).

    Fully oracle-paired: per-element FLOOR quantization before any
    sum, md5-derived sign literals shared verbatim by both sides,
    exact long sums. Plan: one posexplode + ONE aggregation — no
    joins, no Python, no extra shuffle."""
    from csv_query_engine_spark.pipeline.similarity import random_projection_sketch

    e = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    return random_projection_sketch(e).orderBy("vec_id")


def _cm_oracle() -> str:
    from csv_query_engine_spark.pipeline.sketches import sql_cm_estimates

    return sql_cm_estimates("events", "user_id")


@register("events_cm_user_counts", _cm_oracle())
def events_cm_user_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min point-frequency estimates for every user against the
    exact counts (pipeline/sketches.py::cm_cells/cm_estimates; Cormode
    & Muthukrishnan 2005): est ≥ exact always, the overcount column IS
    the sketch's collision error — and because positions come from the
    cross-engine md5 recipe, the DuckDB twin reproduces the sketch's
    approximation error bit-for-bit, not just an exact answer (the
    rare fully-oracle-paired SKETCH, next to the hand-built HLL).

    Scale: the sketch is ≤ depth×width rows no matter the stream,
    mergeable across shards by cell-wise SUM; build = one 4-way
    explode + one bounded aggregation; probes join the BROADCAST cell
    table."""
    from csv_query_engine_spark.pipeline.sketches import cm_cells, cm_estimates

    e = load_tables(spark, sf_dir, ("events",))["events"]
    cells = cm_cells(e, "user_id")
    keys = e.select("user_id").distinct()
    est = cm_estimates(cells, keys, "user_id")
    exact = e.groupBy("user_id").agg(F.count(F.lit(1)).cast("bigint").alias("exact_count"))
    return (
        est.join(exact, "user_id")
        .select(
            F.col("user_id").alias("key"),
            "est_count",
            "exact_count",
            (F.col("est_count") - F.col("exact_count")).cast("bigint").alias("overcount"),
        )
        .orderBy("key")
    )


def _hll_oracle() -> str:
    from csv_query_engine_spark.pipeline.sketches import sql_hll_distinct

    hll = sql_hll_distinct("events", "user_id", "event_type")
    return f"""
    WITH hll AS ({hll}),
    exact AS (SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT)
                  AS exact_distinct
              FROM events GROUP BY event_type)
    SELECT hll.event_type, n_registers, hll_estimate, exact_distinct
    FROM hll JOIN exact ON hll.event_type = exact.event_type
    ORDER BY hll.event_type
    """


@register("events_hll_type_cardinality", _hll_oracle())
def events_hll_type_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type distinct-user estimates from a HAND-BUILT
    HyperLogLog (pipeline/sketches.py::hll_distinct; Flajolet et al.
    2007, p=8) next to the exact distinct count — unlike the
    approx_count_distinct family (engine-internal registers, rows-only
    forever), every register here derives from the cross-engine md5
    recipe, so the ESTIMATE ITSELF — harmonic fold, bias correction
    branch and all — oracle-pairs against DuckDB.

    Scale: m=256 register rows per group no matter the input,
    mergeable by MAX across shards (the DataSketches-rollup shape with
    reproducible internals); one (group, bucket) aggregation + one
    per-group fold, exact harmonic sums in decimal(38,0)/HUGEINT."""
    from csv_query_engine_spark.pipeline.sketches import hll_distinct

    e = load_tables(spark, sf_dir, ("events",))["events"]
    hll = hll_distinct(e, "user_id", "event_type")
    exact = e.groupBy("event_type").agg(
        F.count_distinct("user_id").cast("bigint").alias("exact_distinct")
    )
    return hll.join(exact, "event_type").orderBy("event_type")


@register(
    "privacy_erasure_audit",
    """
    WITH ks AS (SELECT DISTINCT c_custkey AS k FROM customer WHERE c_acctbal < 0),
    a AS (
        SELECT 'customer' AS table_name,
               CAST((SELECT COUNT(*) FROM customer) AS BIGINT) AS n_before,
               CAST((SELECT COUNT(*) FROM customer WHERE c_custkey IN (SELECT k FROM ks))
                    AS BIGINT) AS n_removed
        UNION ALL
        SELECT 'orders',
               CAST((SELECT COUNT(*) FROM orders) AS BIGINT),
               CAST((SELECT COUNT(*) FROM orders WHERE o_custkey IN (SELECT k FROM ks))
                    AS BIGINT)
    )
    SELECT table_name, n_before, n_removed, n_before - n_removed AS n_after
    FROM a ORDER BY table_name
    """,
)
def privacy_erasure_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten propagation audit (pipeline/privacy.py::
    erase_keys; GDPR Art. 17): erase every negative-balance customer —
    a deterministic stand-in for a deletion-request list — from
    customer AND orders in one broadcast-anti-join pass per table,
    returning the deletion receipt (n_before = n_removed + n_after by
    construction). The privacy family's DESTROY member next to
    pseudonymization (KEEP joinable) and PII scrubbing (free text).

    Scale: the request list broadcasts; each table pays one map-side
    pass, no table shuffle; the audit is one aggregate per table."""
    from csv_query_engine_spark.pipeline.privacy import erase_keys

    t = load_tables(spark, sf_dir, ("customer", "orders"))
    keys = t["customer"].filter(F.col("c_acctbal") < 0).select(
        F.col("c_custkey").alias("key")
    )
    _, audit = erase_keys(
        {"customer": t["customer"], "orders": t["orders"]},
        {"customer": "c_custkey", "orders": "o_custkey"},
        keys,
    )
    return audit.orderBy("table_name")


def _manifest_oracle() -> str:
    # compose the shard-assignment twin (registered above) as a CTE
    from csv_query_engine_spark.queries import REGISTRY

    assign = REGISTRY["docs_shard_assignment"][1]
    return f"""
    WITH assign AS ({assign})
    SELECT shard_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
           sha256(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id))
               AS content_sha
    FROM assign GROUP BY shard_id ORDER BY shard_id
    """


@register("docs_shard_manifest", _manifest_oracle())
def docs_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-addressed shard manifest — the integrity receipt a
    published training dataset ships next to its shards (the WebDataset
    / data-card convention): per shard, document count, token count,
    and a sha256 over the sorted member ids, so any re-materialization
    of the corpus can verify shard membership byte-for-byte without
    re-reading document text (Spark sha2(x,256) == DuckDB sha256(x),
    the pseudonymization precedent).

    Composes docs_shard_assignment (its oracle nests verbatim as a
    CTE): one per-shard aggregation on top of the layout. Scale: shard
    member lists are bounded by the token budget by construction, so
    the sorted-id digest is a bounded per-group fold, never a
    corpus-sized collect."""
    from csv_query_engine_spark.pipeline.chunking import shard_assignment

    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    laid = shard_assignment(d)
    return (
        laid.groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
            F.sha2(
                F.concat_ws(
                    ",",
                    # codegen'd array cast, not an interpreted
                    # transform() HOF (CLAUDE.md string-array rule)
                    F.sort_array(F.collect_list(F.col("doc_id"))).cast("array<string>"),
                ),
                256,
            ).alias("content_sha"),
        )
        .orderBy("shard_id")
    )


def _hll_merge_oracle() -> str:
    from csv_query_engine_spark.pipeline.sketches import sql_hll_distinct

    hll = sql_hll_distinct("(SELECT 'all' AS grp, user_id FROM events)", "user_id", "grp")
    return f"""
    WITH hll AS ({hll}),
    exact AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_distinct
              FROM events)
    SELECT n_registers, hll_estimate, exact_distinct
    FROM hll CROSS JOIN exact
    """


@register("events_hll_daily_merge", _hll_merge_oracle())
def events_hll_daily_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL merge identity, driver-certified: the Spark side builds
    PER-DAY register tables and MAX-merges them into one global sketch
    (pipeline/sketches.py::hll_registers + hll_estimate_from_registers
    — the shard/stream rollup path), while the oracle computes the
    global sketch DIRECTLY — equality of the estimates IS the proof
    that register-max merging is lossless (max over days of per-day
    maxima = global max, so the merged sketch is bit-identical to the
    one-shot build). The reproducible-internals sibling of the
    DataSketches rollup (sketch_user_rollup, rows-only forever).

    Scale: per-day register state is m rows per day; the merge is one
    bounded (b) aggregation — the 100 TB pre-aggregation pattern with
    oracle-checkable internals."""
    from csv_query_engine_spark.pipeline.sketches import (
        hll_estimate_from_registers,
        hll_registers,
    )

    e = load_tables(spark, sf_dir, ("events",))["events"]
    daily = hll_registers(
        e.select("user_id", F.to_date("ts").cast("string").alias("day")),
        "user_id",
        "day",
    )
    merged = (
        daily.groupBy("b")
        .agg(F.max("mb").alias("mb"))
        .select(F.lit("all").alias("grp"), "b", "mb")
    )
    est = hll_estimate_from_registers(merged, "grp")
    exact = e.agg(F.count_distinct("user_id").cast("bigint").alias("exact_distinct"))
    return est.select("n_registers", "hll_estimate").crossJoin(F.broadcast(exact))


def _pmi_oracle() -> str:
    from csv_query_engine_spark.pipeline.text import sql_pmi_top_pairs

    return sql_pmi_top_pairs("documents", _SQL_TOKS)


@register("docs_pmi_collocations", _pmi_oracle())
def docs_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-30 adjacent-word collocations by PMI (pipeline/text.py::
    pmi_top_pairs; Church & Hanks 1990) with support ≥ 5 — the
    association-mining member of the text-statistics family: tf-idf
    ranks terms per document, the LM scores rank documents, PMI ranks
    word PAIRS corpus-wide (the classic collocation screen run before
    tokenizer/vocab decisions).

    Oracle-paired via one FLOOR-quantized ln of exact-count products
    with fixed parenthesization (the DSIR/BM25 idiom); ties break on
    (w1, w2). Scale: one token explode + one codegen'd bigram-position
    explode, counts pruned by support BEFORE the two unigram joins,
    bounded tiebroken top-k."""
    from csv_query_engine_spark.pipeline.text import pmi_top_pairs

    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    return pmi_top_pairs(d).orderBy(F.col("pmi").desc(), "w1", "w2")


@register("embedding_hard_negatives", _sql_brute_cosine_topk(True))
def embedding_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training (pipeline/
    similarity.py::hard_negative_topk; the DPR prep step): for each
    query vector (vec_id % 100 == 0), the 5 most-similar candidates
    with a DIFFERENT label — maximally confusable true negatives;
    same-label neighbors are positives and are excluded by the join
    condition, which makes this genuinely different from the plain
    brute-force top-k on this data (labels span 0..3).

    Oracle-paired the same way as embedding_topk_bruteforce (explicit
    double cosine, rounded before ranking, tiebroken window)."""
    e = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    q = e.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding"), F.col("label")
    )
    return sim.hard_negative_topk(e, q).orderBy("query_id", "rank")


_SQL_ENTITY_RECORDS = """
    cust AS (SELECT CAST(c_custkey AS BIGINT) AS ck, lower(c_name) AS name,
                    CAST(c_nationkey AS INT) AS city, c_mktsegment AS seg,
                    CAST(FLOOR(CAST(c_acctbal AS DOUBLE) * 100.0 + 0.5) AS BIGINT) AS bal
             FROM customer WHERE c_custkey % 8 = 0),
    recs AS (
        SELECT ck * 10 AS rec_id, name,
               CAST(city AS VARCHAR) || '-' || CAST((ck * 7919) % 10000000 AS VARCHAR) AS phone,
               city, seg, bal
        FROM cust
        UNION ALL
        SELECT ck * 10 + 1,
               substr(name, 1, p - 1) || substr(name, p + 1),
               CAST(city AS VARCHAR) || '-' || CAST((ck * 7919) % 10000000 AS VARCHAR),
               city, seg, bal
        FROM (SELECT *, CAST((ck % (length(name) - 1)) + 2 AS INT) AS p FROM cust)
        WHERE ck % 3 = 0
        UNION ALL
        SELECT ck * 10 + 2, name,
               CAST(city AS VARCHAR) || '-' || CAST((ck * 104729) % 10000000 AS VARCHAR),
               city, seg, bal
        FROM cust WHERE ck % 5 = 0
        UNION ALL
        SELECT ck * 10 + 3,
               substr(name, 1, p2 - 1) || substr(name, p2 + 1),
               CAST(city AS VARCHAR) || '-' || CAST((ck * 15485863) % 10000000 AS VARCHAR),
               city, seg, bal
        FROM (SELECT *, CAST(((ck * 13) % (length(name) - 1)) + 2 AS INT) AS p2 FROM cust)
        WHERE ck % 7 = 0
    )"""


@register(
    "customer_entity_resolution_pairs",
    f"""
    WITH {_SQL_ENTITY_RECORDS},
    v0 AS (SELECT rec_id, name AS variant FROM recs),
    v1 AS (SELECT rec_id, substr(variant, 1, i - 1) || substr(variant, i + 1) AS variant
           FROM (SELECT rec_id, variant,
                        unnest(generate_series(1, length(variant))) AS i FROM v0)),
    vars AS (SELECT DISTINCT rec_id, variant FROM
             (SELECT * FROM v0 UNION ALL SELECT * FROM v1)),
    cand AS (
        SELECT a.rec_id AS id_a, b.rec_id AS id_b
        FROM vars a JOIN vars b ON a.variant = b.variant AND a.rec_id < b.rec_id
        UNION
        SELECT a.rec_id, b.rec_id
        FROM recs a JOIN recs b ON a.phone = b.phone AND a.rec_id < b.rec_id
    ),
    scored AS (
        SELECT c.id_a, c.id_b,
               CAST(levenshtein(a.name, b.name) AS INT) AS name_dist,
               CAST(a.phone = b.phone AS INT) AS phone_eq,
               CAST(a.city = b.city AS INT) AS city_eq,
               CAST(a.seg = b.seg AS INT) AS segment_eq,
               CAST(a.bal = b.bal AS INT) AS bal_cents_eq,
               CAST(FLOOR(CAST(500000 AS DOUBLE)
                          * (CAST(1 AS DOUBLE)
                             - CAST(levenshtein(a.name, b.name) AS DOUBLE)
                               / CAST(greatest(length(a.name), length(b.name)) AS DOUBLE))
                          + 0.5) AS BIGINT)
               + 200000 * CAST(a.phone = b.phone AS BIGINT)
               + 100000 * CAST(a.city = b.city AS BIGINT)
               + 50000 * CAST(a.seg = b.seg AS BIGINT)
               + 150000 * CAST(a.bal = b.bal AS BIGINT) AS u
        FROM cand c JOIN recs a ON c.id_a = a.rec_id JOIN recs b ON c.id_b = b.rec_id
    )
    SELECT id_a, id_b, name_dist, phone_eq, city_eq, segment_eq, bal_cents_eq,
           CAST(u AS DOUBLE) / 1e6 AS score
    FROM scored WHERE u >= 750000
    ORDER BY id_a, id_b
    """,
)
def customer_entity_resolution_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution over a planted dirty-record table
    (pipeline/entity.py): deterministic SQL-expressible corruptions of
    ``customer`` (typo names via positional char deletion, rewritten
    phones) produce 1-4 records per true entity; the weighted
    multi-field Fellegi-Sunter score (name 0.5, phone 0.2, city 0.1,
    segment 0.05, balance 0.15; threshold 0.75) over the PROVABLY
    complete two-block candidate set (name deletion-neighborhood d=1 ∪
    phone equality) emits the matched pairs.  d=1 IS complete here:
    names are exactly 18 chars, so a thresholded pair without a phone
    match needs name similarity ≥ 0.9 → distance ≤ 1 — the operator
    asserts exactly this bound (max_name_len=18), and d=1 measured
    2.9 s vs d=2's 5.6 s at sf0.1 (same output rows, as the bound
    proves).  Harness names differing only in trailing digits
    are adversarial distance-1 negatives; score rejects them.

    Registered on the custkey % 8 subset (every planted-dup residue —
    24, 40, 56 — is represented): the ZERO-PADDED sequential synthetic
    names are adversarial for deletion-neighborhood blocking (most
    custkey pairs sit within substitution distance ~2-4, so candidate
    volume tracks that artificial near-name density, the
    ngram-jaccard-subset / round-7 minhash-probe precedent) — real
    name corpora block ~linearly.

    Oracle: regenerates the identical records and mirrors blocking +
    integer-unit scoring (one FLOOR-quantized ratio — no float
    hazard).  Scale: equi-join blocks only, candidate volume linear in
    records × O(L²) variants; nothing quadratic."""
    from csv_query_engine_spark.pipeline.entity import (
        entity_match_pairs,
        synthetic_entity_records,
    )

    cust = load_tables(spark, sf_dir, ("customer",))["customer"].filter(
        F.col("c_custkey") % 8 == 0
    )
    recs = synthetic_entity_records(cust)
    return entity_match_pairs(recs, block_dist=1, max_name_len=18).orderBy(
        "id_a", "id_b"
    )


@register(
    "embedding_retrieval_eval",
    f"""
    WITH run AS ({_sql_brute_cosine_topk(False)}),
    ql AS (SELECT vec_id AS query_id, label FROM embeddings WHERE vec_id % 100 = 0),
    rel AS (SELECT ql.query_id, e.vec_id AS cand_id
            FROM embeddings e JOIN ql ON e.label = ql.label AND e.vec_id <> ql.query_id),
    nrel AS (SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_rel FROM rel GROUP BY query_id),
    hits AS (SELECT r.query_id,
                    CAST(SUM(CASE WHEN rel.cand_id IS NOT NULL AND r.rank <= 5
                                  THEN 1 ELSE 0 END) AS BIGINT) AS hits_at_k,
                    CAST(MIN(CASE WHEN rel.cand_id IS NOT NULL THEN r.rank END) AS BIGINT)
                        AS frr
             FROM run r LEFT JOIN rel
               ON r.query_id = rel.query_id AND r.cand_id = rel.cand_id
             GROUP BY r.query_id)
    SELECT h.query_id AS query_id,
           COALESCE(n.n_rel, 0) AS n_rel,
           h.hits_at_k AS hits_at_k,
           CASE WHEN COALESCE(n.n_rel, 0) > 0
                THEN CAST(h.hits_at_k AS DOUBLE) / CAST(n.n_rel AS DOUBLE)
                ELSE CAST(0 AS DOUBLE) END AS recall_at_k,
           COALESCE(h.frr, 0) AS first_rel_rank,
           CASE WHEN h.frr IS NOT NULL
                THEN CAST(1 AS DOUBLE) / CAST(h.frr AS DOUBLE)
                ELSE CAST(0 AS DOUBLE) END AS rr
    FROM hits h LEFT JOIN nrel n ON h.query_id = n.query_id
    ORDER BY query_id
    """,
)
def embedding_retrieval_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-quality evaluation (pipeline/retrieval.py::
    retrieval_metrics): the brute-force cosine top-5 run (the
    embedding_topk_bruteforce computation, twin nested verbatim via
    the shared builder) scored against label-match relevance — per
    query recall@5, first relevant rank, and the MRR addend.  The
    measurement loop a retrieval/index change runs before shipping;
    relevance = same label (cand ≠ query), so n_rel ≈ N/4 and
    recall@5 is honestly tiny while rr is informative.

    Determinism: exact counts + single IEEE divisions of small ints —
    no quantization needed (reciprocals CAST both operands AS DOUBLE
    on the oracle side, the rrf DECIMAL-trap rule).  Scale: the run
    is Q×5 rows; the metrics join never touches the corpus beyond the
    qrels derivation."""
    from csv_query_engine_spark.pipeline.retrieval import retrieval_metrics

    e = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    q = e.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding"), F.col("label")
    )
    run = sim.brute_force_topk(e, q.select("query_id", "embedding"), k=5, rounding=4)
    qrels = (
        e.select(F.col("vec_id").alias("cand_id"), "label")
        .join(q.select("query_id", "label"), "label")
        .filter(F.col("cand_id") != F.col("query_id"))
        .select("query_id", "cand_id")
    )
    return retrieval_metrics(run, qrels, k=5)


@register(
    "customer_k_anonymity_audit",
    """
    WITH src AS (
        SELECT CAST(c_nationkey AS INT) AS city, c_mktsegment AS segment,
               CAST(FLOOR(CAST(c_acctbal AS DOUBLE) / 1000.0) AS BIGINT) AS bal_band
        FROM customer
    ),
    classes AS (
        SELECT city, segment, bal_band, CAST(COUNT(*) AS BIGINT) AS n_rows
        FROM src GROUP BY city, segment, bal_band
    ),
    flagged AS (SELECT city, segment, bal_band, n_rows, n_rows < 5 AS at_risk
                FROM classes),
    tot AS (SELECT CAST(COALESCE(SUM(CASE WHEN at_risk THEN n_rows ELSE 0 END), 0)
                        AS BIGINT) AS n_risk_rows,
                   CAST(SUM(n_rows) AS BIGINT) AS n_total
            FROM flagged)
    SELECT city, segment, bal_band, n_rows, at_risk, n_risk_rows,
           CAST(FLOOR(1000000 * n_risk_rows / n_total) AS BIGINT) AS risk_ppm
    FROM flagged CROSS JOIN tot
    ORDER BY city, segment, bal_band
    """,
)
def customer_k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity release audit (pipeline/privacy.py::
    k_anonymity_audit; Sweeney 2002) over the (nation, segment,
    1000-unit balance band) quasi-identifier — every equivalence
    class with its size, the < 5 re-identification flag, and the
    dataset-level risk share in exact parts-per-million; the check a
    pipeline runs before releasing 'anonymized' derived data, sitting
    beside pseudonymization (which this audits the residual risk OF:
    tokens hide direct identifiers, quasi-identifier combinations can
    still single people out).  The banded balance plants genuinely
    small classes at every SF.

    Oracle-paired: exact counts, one integer-ratio FLOOR.  Scale: ONE
    aggregation + a 1-row broadcast; output bounded by the
    quasi-combination cardinality."""
    from csv_query_engine_spark.pipeline.privacy import k_anonymity_audit

    c = load_tables(spark, sf_dir, ("customer",))["customer"]
    src = c.select(
        F.col("c_nationkey").cast("int").alias("city"),
        F.col("c_mktsegment").alias("segment"),
        F.floor(F.col("c_acctbal").cast("double") / F.lit(1000.0))
        .cast("long")
        .alias("bal_band"),
    )
    return k_anonymity_audit(src, ["city", "segment", "bal_band"], k=5).orderBy(
        "city", "segment", "bal_band"
    )


def _hll_overlap_oracle() -> str:
    from csv_query_engine_spark.pipeline.sketches import sql_hll_overlap

    key = "CAST(user_id AS VARCHAR) || '@' || CAST(CAST(ts AS DATE) AS VARCHAR)"
    ta = f"(SELECT {key} AS k FROM events WHERE event_type = 'click') ta"
    tb = f"(SELECT {key} AS k FROM events WHERE event_type = 'purchase') tb"
    ov = sql_hll_overlap(ta, tb, "k")
    return f"""
    WITH ov AS ({ov}),
    ex AS (
        SELECT CAST(COUNT(DISTINCT CASE WHEN has_a AND has_b THEN k END) AS BIGINT)
                   AS exact_intersection,
               CAST(COUNT(DISTINCT k) AS BIGINT) AS exact_union
        FROM (
            SELECT k, BOOL_OR(event_type = 'click') AS has_a,
                   BOOL_OR(event_type = 'purchase') AS has_b
            FROM (SELECT {key} AS k, event_type FROM events
                  WHERE event_type IN ('click', 'purchase'))
            GROUP BY k
        )
    )
    SELECT est_a, est_b, est_union, est_intersection, jaccard_ppm,
           exact_union, exact_intersection,
           CAST(FLOOR(CAST(exact_intersection AS DOUBLE) * 1000000.0
                      / CAST(exact_union AS DOUBLE)) AS BIGINT)
               AS exact_jaccard_ppm
    FROM ov CROSS JOIN ex
    """


@register("events_hll_session_overlap", _hll_overlap_oracle())
def events_hll_session_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL set algebra (pipeline/sketches.py::hll_overlap): how much do
    the (user, day) activity sets of two event types overlap?  One row:
    both set estimates, the MAX-merged union estimate, the
    inclusion–exclusion intersection, and Jaccard in exact-ppm FLOOR —
    next to the exact answers, so the sketch's set-algebra error is
    itself certified (the events_hll_type_cardinality convention).
    The corpus-scale use is overlap screens between 100 TB key sets
    (benchmark-vs-train contamination, cross-snapshot audience drift)
    where each side is scanned once into 2^p register rows and all set
    arithmetic happens on the sketches.

    Oracle-paired bit-for-bit: registers ride the md5 recipe, the
    union IS the MAX merge (the twin re-derives it from concatenated
    keys — same registers by construction), and the only float ops are
    two IEEE divisions on bigints.  The exact columns cost one extra
    grouped pass here; at scale you would keep only the sketch side."""
    from csv_query_engine_spark.pipeline.sketches import hll_overlap

    e = load_tables(spark, sf_dir, ("events",))["events"]
    key = F.concat(
        F.col("user_id").cast("string"),
        F.lit("@"),
        F.col("ts").cast("date").cast("string"),
    ).alias("k")
    a = e.filter(F.col("event_type") == "click").select(key)
    b = e.filter(F.col("event_type") == "purchase").select(key)
    ov = hll_overlap(a, b, "k")

    per_key = (
        e.filter(F.col("event_type").isin("click", "purchase"))
        .select(key, "event_type")
        .groupBy("k")
        .agg(
            F.max(F.col("event_type") == "click").alias("has_a"),
            F.max(F.col("event_type") == "purchase").alias("has_b"),
        )
    )
    ex = per_key.agg(
        F.count_distinct(
            F.when(F.col("has_a") & F.col("has_b"), F.col("k"))
        ).cast("bigint").alias("exact_intersection"),
        F.count_distinct("k").cast("bigint").alias("exact_union"),
    )
    return ov.crossJoin(F.broadcast(ex)).select(
        "est_a",
        "est_b",
        "est_union",
        "est_intersection",
        "jaccard_ppm",
        "exact_union",
        "exact_intersection",
        F.floor(
            F.col("exact_intersection").cast("double")
            * F.lit(1000000.0)
            / F.col("exact_union").cast("double")
        )
        .cast("bigint")
        .alias("exact_jaccard_ppm"),
    )


@register(
    "events_user_skew_report",
    """
    WITH pk AS (SELECT CAST(user_id AS VARCHAR) AS key, COUNT(*) AS n
                FROM events GROUP BY user_id),
    s AS (SELECT CAST(SUM(n) AS BIGINT) AS total_rows,
                 CAST(COUNT(*) AS BIGINT) AS n_keys,
                 CAST(MAX(n) AS BIGINT) AS max_n
          FROM pk),
    t AS (SELECT key, n FROM pk ORDER BY n DESC, key LIMIT 10),
    r AS (SELECT a.key, a.n, CAST(COUNT(*) AS INT) AS rnk
          FROM t a JOIN t b ON (b.n > a.n) OR (b.n = a.n AND b.key <= a.key)
          GROUP BY a.key, a.n)
    SELECT key, CAST(n AS BIGINT) AS n,
           CAST(FLOOR(CAST(n AS DOUBLE) * 1000000.0
                      / CAST(total_rows AS DOUBLE)) AS BIGINT) AS share_ppm,
           rnk, total_rows, n_keys,
           CAST(FLOOR(CAST(max_n AS DOUBLE) * 1000000.0 * CAST(n_keys AS DOUBLE)
                      / CAST(total_rows AS DOUBLE)) AS BIGINT) AS skew_ratio_ppm,
           CAST((max_n * n_keys + total_rows - 1) // total_rows AS INT)
               AS suggested_salt
    FROM r CROSS JOIN s
    ORDER BY rnk, key
    """,
)
def events_user_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-skew diagnosis (operators/skew.py::skew_report) over the
    event stream's user key — the MEASURE step before salted_join /
    AQE skew handling: exact top-10 heavy keys with FLOOR-ppm shares,
    triangular-broadcast ranks (no unpartitioned window — the bounded-
    post-limit-ranking invariant), and the repeated dataset summary
    with the max/mean skew ratio and the ⌈max/mean⌉ suggested salt in
    pure integer arithmetic.

    Scale: ONE fact-sized groupBy (the shuffle the diagnosed join
    itself would pay), then ordered LIMIT + ≤k×k broadcast joins —
    output bounded at top_k rows."""
    from csv_query_engine_spark.operators.skew import skew_report

    e = load_tables(spark, sf_dir, ("events",))["events"]
    return skew_report(e, "user_id", top_k=10)
