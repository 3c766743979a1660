"""Okapi BM25 retrieval scoring (Robertson & Zaragoza 2009; the Lucene
``k1/b`` variant with the smooth ln(1 + (N−df+0.5)/(df+0.5)) IDF) —
the lexical-retrieval member of the pipeline next to tf-idf (term
IMPORTANCE profiling) and the embedding ANN family (semantic
retrieval): score a query term set against every document and return
the top results, the op a RAG/data-curation pipeline runs to find
supporting or contaminating documents at corpus scale.

No reference analog (the reference has no text scoring at all); the
formula and constants are the public textbook form.

Scale design:
- ONE token explode feeds everything (persisted: tf, df, doc lengths
  and the derived query-term set all read it — the multi-consumer
  rule);
- the query-term table is ≤ n_terms rows — broadcast into the tf join,
  so the only corpus-scale shuffle is the (doc, token) tf aggregate;
- N, total length, and avgdl are 1-row broadcasts;
- per-term partial scores quantize to 1e-6 LONG units before the
  per-doc SUM (integer addition is order-free — the exact-sum pattern;
  a double SUM's partition-dependent order could not hash-match);
- the IDF's ln() is the one transcendental: FLOOR-quantized at 1e-9
  immediately (the pre-rounded-ln precedent in text.py::char_entropy),
  every other step is single IEEE ops on identical doubles;
- top-k is a bounded orderBy+limit with a unique doc_id tiebreak.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from csv_query_engine_spark.pipeline.common import pin as _pin
from csv_query_engine_spark.pipeline.common import spread as _spread
from csv_query_engine_spark.pipeline.text import tokens

K1 = 1.2
B = 0.75


def bm25_topk(
    df: DataFrame,
    n_terms: int = 8,
    top_n: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = K1,
    b: float = B,
) -> DataFrame:
    """(doc_id, n_matched_terms, bm25_score): top ``top_n`` documents by
    BM25 against the corpus's own ``n_terms`` highest-document-frequency
    tokens (df desc, token asc tiebreak — a deterministic, SQL-derivable
    stand-in for a user query; a real deployment broadcasts its query
    terms instead, with the identical plan)."""
    return bm25_topk_from_postings(
        doc_term_frequencies(df, id_col=id_col, text_col=text_col),
        n_terms=n_terms,
        top_n=top_n,
        id_col=id_col,
        k1=k1,
        b=b,
    )


def doc_term_frequencies(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, token, tf) — the inverted-index POSTINGS of a document
    set: ONE token explode, one (doc, token) aggregate.  This is the
    incremental unit of the retrieval index: postings of disjoint doc
    sets merge by plain UNION (each doc's rows are final on arrival),
    which is what the streaming index build rides
    (streaming/events.py::route_bm25_batch, run through
    ``run_batches``).

    The tf shuffle keys on the token STRING, deliberately diverging
    from the hashed-gram idiom (CLAUDE.md): these are single
    whitespace tokens (~6 bytes — no narrower than the 8-byte hash,
    unlike multi-word grams), and the derived query set needs the
    string anyway for the (df desc, token) tiebreak the DuckDB twin
    must reproduce (xxhash64 has no DuckDB counterpart to order by)."""
    tok = (
        _spread(df.select(F.col(id_col).alias("id"), tokens(F.col(text_col)).alias("_t")))
        .select("id", F.explode("_t").alias("token"))
        .filter(F.col("token") != "")
    )
    return tok.groupBy("id", "token").agg(F.count(F.lit(1)).cast("long").alias("tf"))


def bm25_topk_from_postings(
    postings: DataFrame,
    n_terms: int = 8,
    top_n: int = 20,
    id_col: str = "doc_id",
    k1: float = K1,
    b: float = B,
) -> DataFrame:
    """BM25 top-k from an (id, token, tf) postings table — the scoring
    core shared by the batch operator (:func:`bm25_topk`) and the
    streaming-built index (streaming read_bm25_postings), so
    stream-built == batch-built holds by construction of shared code.
    Doc lengths, document frequencies, and corpus stats all derive
    from the ONE persisted postings table (3 consumers).
    Cache lifetime is CALLER-OWNED — wrap the call in
    ``pipeline.cache_scope(spark)`` to release the persisted
    intermediates on exit (the one library-wide convention)."""
    from pyspark.storagelevel import StorageLevel

    tf = postings.select("id", "token", "tf").persist(StorageLevel.MEMORY_AND_DISK)
    # Pin: `tf` feeds the doc-length aggregate, the document-frequency
    # aggregate and the scoring join — three independent leaf jobs that
    # re-ran the tokenize+postings aggregate on a cold cache.
    _pin(tf)
    doclen = tf.groupBy("id").agg(F.sum("tf").cast("long").alias("dl"))
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).cast("long").alias("df"))
    qterms = dfreq.orderBy(F.col("df").desc(), "token").limit(n_terms)
    stats = doclen.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("dl").cast("long").alias("total_len"),
    )
    # idf quantized at 1e-9 right after the ln (the one transcendental)
    idf = F.floor(
        F.log(
            F.lit(1.0)
            + (F.col("n_docs").cast("double") - F.col("df").cast("double") + F.lit(0.5))
            / (F.col("df").cast("double") + F.lit(0.5))
        )
        * F.lit(1e9)
        + F.lit(0.5)
    ) / F.lit(1e9)
    q = (
        qterms.crossJoin(F.broadcast(stats))  # 1-row broadcast, not cartesian
        .select("token", idf.alias("idf"), "n_docs", "total_len")
    )
    avgdl = F.col("total_len").cast("double") / F.col("n_docs").cast("double")
    norm = F.lit(float(k1)) * (
        F.lit(1.0 - b) + F.lit(float(b)) * (F.col("dl").cast("double") / avgdl)
    )
    term_score = (
        F.col("idf")
        * (F.col("tf").cast("double") * F.lit(float(k1 + 1.0)))
        / (F.col("tf").cast("double") + norm)
    )
    # per-term scores -> 1e-6 long units BEFORE the per-doc sum
    units = F.floor(term_score * F.lit(1e6) + F.lit(0.5)).cast("long")
    scored = (
        tf.join(F.broadcast(q), "token")
        .join(doclen, "id")
        .select("id", units.alias("_u"))
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_matched_terms"),
            F.sum("_u").cast("long").alias("_su"),
        )
    )
    return (
        scored.orderBy(F.col("_su").desc(), "id")
        .limit(top_n)
        .select(
            F.col("id").alias(id_col),
            "n_matched_terms",
            (F.col("_su") / F.lit(1e6)).alias("bm25_score"),
        )
    )


RRF_K = 60  # the standard fusion constant (Cormack, Clarke & Buettcher 2009)


def hybrid_rrf_topk(
    docs: DataFrame,
    embeddings: DataFrame,
    query_vec_id: int = 0,
    list_n: int = 50,
    top_n: int = 20,
    rrf_k: int = RRF_K,
    n_terms: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    vec_id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Hybrid lexical+semantic retrieval via reciprocal-rank fusion —
    the standard RAG retrieval stack: a BM25 ranking (:func:`bm25_topk`
    against the corpus-derived query terms) and an embedding cosine
    ranking (the same rounded-cosine ``(desc, id)`` order
    similarity.brute_force_topk produces for the ``query_vec_id``
    vector, bounded by an ordered LIMIT — a single query through the
    per-query row_number window would be a one-partition sort) are
    fused by

        rrf(d) = 1/(k + rank_lex(d)) + 1/(k + rank_vec(d))

    with an absent-list term contributing 0 (Cormack et al. 2009).
    Returns the ``top_n`` fused ``(doc_id, lex_rank, vec_rank,
    rrf_score)`` rows; absent ranks surface as the 0 sentinel (both
    engines — nullable-int pandas upcast, CLAUDE.md).

    Fully oracle-pairable: rank arithmetic is integer, each reciprocal
    is one IEEE double division of exact integers, the two-term sum has
    a fixed expression order, and the result is FLOOR-quantized at 1e-9
    before the (score desc, doc_id) tiebroken top-n.

    Scale: both input rankings are bounded (``list_n`` rows) before the
    fusion, so the fuse itself is a broadcast-sized full outer join +
    a triangular rank on ≤ list_n rows (no unpartitioned window — the
    vocab_coverage idiom); all corpus-scale work lives in the two
    underlying rankings — the persisted-token BM25 aggregates and ONE
    codegen'd cosine scan folded into a TakeOrdered.

    Cache lifetime is CALLER-OWNED — wrap the call in
    ``pipeline.cache_scope(spark)`` to release the persisted
    intermediates on exit (the one library-wide convention)."""
    from pyspark.storagelevel import StorageLevel

    from csv_query_engine_spark.pipeline.similarity import _spread, cosine

    # ≤ list_n rows but TWO consumers (both triangular legs) — without
    # the persist each leg re-runs the BM25 doclen/stats/qterms
    # aggregates above the persisted token tables (measured 4.7 s warm
    # in-suite; 2.6 s with the persist — the multi-consumer rule
    # applies to bounded derived tables too).
    lex_list = (
        bm25_topk(docs, n_terms=n_terms, top_n=list_n, id_col=id_col, text_col=text_col)
        .select(F.col(id_col).alias("id"), "bm25_score")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # Rank the bounded lexical list with a triangular broadcast
    # self-join (count of rows at-or-before in the (score desc, id)
    # strict order) — same values as ROW_NUMBER, no single-task
    # WindowExec (vocab_coverage precedent). bm25_score = su/1e6 is
    # order-isomorphic to the integer su (distinct longs ≪ 2^53 map to
    # distinct doubles), so this reproduces the oracle's ORDER BY.
    before = (F.col("b.bm25_score") > F.col("a.bm25_score")) | (
        (F.col("b.bm25_score") == F.col("a.bm25_score")) & (F.col("b.id") <= F.col("a.id"))
    )
    lex = (
        lex_list.alias("a")
        .join(F.broadcast(lex_list.alias("b")), before)
        .groupBy(F.col("a.id").alias("id"))
        .agg(F.count(F.lit(1)).cast("long").alias("lex_rank"))
    )
    # Vector leg: with ONE query vector, brute_force_topk's
    # row_number window partitioned by query_id would collapse to a
    # single-task sort of every corpus cosine row (the unpartitioned-
    # WindowExec shape CLAUDE.md bans).  Bound the list with an ordered
    # limit instead — TakeOrdered: per-partition top-list_n, merged on
    # the driver — then rank the ≤ list_n survivors with the same
    # triangular broadcast idiom as the lexical leg.  Same (cosine
    # desc, id) tiebroken order, so same values as brute_force_topk.
    qv = embeddings.filter(F.col(vec_id_col) == query_vec_id).select(
        F.col(vec_col).alias("q_vec")
    )
    cand = _spread(embeddings).select(
        F.col(vec_id_col).alias("id"), F.col(vec_col).alias("c_vec")
    )
    vec_list = (
        cand.join(F.broadcast(qv))
        .filter(F.col("id") != query_vec_id)
        .select("id", F.round(cosine(F.col("q_vec"), F.col("c_vec")), 4).alias("cosine"))
        .orderBy(F.col("cosine").desc(), "id")
        .limit(list_n)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    vbefore = (F.col("b.cosine") > F.col("a.cosine")) | (
        (F.col("b.cosine") == F.col("a.cosine")) & (F.col("b.id") <= F.col("a.id"))
    )
    vec = (
        vec_list.alias("a")
        .join(F.broadcast(vec_list.alias("b")), vbefore)
        .groupBy(F.col("a.id").alias("id"))
        .agg(F.count(F.lit(1)).cast("long").alias("vec_rank"))
    )
    recip = lambda r: F.coalesce(  # noqa: E731 — one-expression helper
        F.lit(1.0) / (F.lit(float(rrf_k)) + r.cast("double")), F.lit(0.0)
    )
    fused = (
        lex.join(vec, "id", "full_outer")
        .select(
            "id",
            F.coalesce(F.col("lex_rank"), F.lit(0)).cast("int").alias("lex_rank"),
            F.coalesce(F.col("vec_rank"), F.lit(0)).cast("int").alias("vec_rank"),
            (
                F.floor(
                    (recip(F.col("lex_rank")) + recip(F.col("vec_rank"))) * F.lit(1e9)
                    + F.lit(0.5)
                )
                / F.lit(1e9)
            ).alias("rrf_score"),
        )
    )
    return (
        fused.orderBy(F.col("rrf_score").desc(), "id")
        .limit(top_n)
        .select(F.col("id").alias(id_col), "lex_rank", "vec_rank", "rrf_score")
    )


def sql_hybrid_rrf(
    doc_table: str,
    emb_table: str,
    sql_toks: str,
    query_vec_id: int = 0,
    list_n: int = 50,
    top_n: int = 20,
    rrf_k: int = RRF_K,
    n_terms: int = 8,
    id_col: str = "doc_id",
    k1: float = K1,
    b: float = B,
) -> str:
    """DuckDB twin of :func:`hybrid_rrf_topk`: nests the BM25 twin's
    CTE chain and the brute-force-cosine twin, ranks each list with
    ROW_NUMBER over the identical tiebroken order, and fuses with the
    same double-division + fixed-order sum + 1e-9 FLOOR. Reciprocals
    are CAST AS DOUBLE on both operands (DuckDB evaluates bare decimal
    literals in DECIMAL — CLAUDE.md)."""
    return f"""
    WITH tok AS (
        SELECT id, token FROM (
            SELECT {id_col} AS id, unnest({sql_toks}) AS token FROM {doc_table}
        ) WHERE token <> ''
    ),
    tf AS (
        SELECT id, token, CAST(COUNT(*) AS BIGINT) AS tf
        FROM tok GROUP BY id, token
    ),
    doclen AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS dl FROM tok GROUP BY id),
    dfreq AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY token),
    qterms AS (SELECT token, df FROM dfreq ORDER BY df DESC, token LIMIT {n_terms}),
    stats AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(dl) AS BIGINT) AS total_len
        FROM doclen
    ),
    q AS (
        SELECT token,
               FLOOR(ln(CAST({1.0!r} AS DOUBLE)
                        + (CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
                          / (CAST(df AS DOUBLE) + 0.5)) * 1e9 + 0.5) / 1e9 AS idf,
               n_docs, total_len
        FROM qterms CROSS JOIN stats
    ),
    lex_scored AS (
        SELECT tf.id,
               CAST(SUM(CAST(FLOOR(
                   q.idf
                   * (CAST(tf.tf AS DOUBLE) * CAST({float(k1 + 1.0)!r} AS DOUBLE))
                   / (CAST(tf.tf AS DOUBLE)
                      + CAST({float(k1)!r} AS DOUBLE)
                        * (CAST({float(1.0 - b)!r} AS DOUBLE)
                           + CAST({float(b)!r} AS DOUBLE)
                             * (CAST(doclen.dl AS DOUBLE)
                                / (CAST(q.total_len AS DOUBLE)
                                   / CAST(q.n_docs AS DOUBLE)))))
                   * 1e6 + 0.5) AS BIGINT)) AS BIGINT) AS su
        FROM tf JOIN q USING (token) JOIN doclen ON doclen.id = tf.id
        GROUP BY tf.id
    ),
    lex AS (
        SELECT id, ROW_NUMBER() OVER (ORDER BY su DESC, id) AS lex_rank
        FROM lex_scored ORDER BY su DESC, id LIMIT {list_n}
    ),
    qv AS (
        SELECT CAST({emb_table}.embedding AS DOUBLE[]) AS q_vec
        FROM {emb_table} WHERE vec_id = {query_vec_id}
    ),
    vec_scored AS (
        SELECT e.vec_id AS id,
               ROUND(
                 CASE WHEN sqrt(list_dot_product(qv.q_vec, qv.q_vec))
                           * sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                                   CAST(e.embedding AS DOUBLE[]))) > 0
                      THEN list_dot_product(qv.q_vec, CAST(e.embedding AS DOUBLE[]))
                           / (sqrt(list_dot_product(qv.q_vec, qv.q_vec))
                              * sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                                      CAST(e.embedding AS DOUBLE[]))))
                      ELSE 0.0 END, 4) AS cosine
        FROM {emb_table} e CROSS JOIN qv
        WHERE e.vec_id <> {query_vec_id}
    ),
    vec AS (
        SELECT id, ROW_NUMBER() OVER (ORDER BY cosine DESC, id) AS vec_rank
        FROM vec_scored ORDER BY cosine DESC, id LIMIT {list_n}
    ),
    fused AS (
        SELECT COALESCE(lex.id, vec.id) AS id,
               CAST(COALESCE(lex_rank, 0) AS INT) AS lex_rank,
               CAST(COALESCE(vec_rank, 0) AS INT) AS vec_rank,
               FLOOR((COALESCE(CAST(1.0 AS DOUBLE)
                               / (CAST({rrf_k} AS DOUBLE) + CAST(lex_rank AS DOUBLE)),
                               CAST(0.0 AS DOUBLE))
                      + COALESCE(CAST(1.0 AS DOUBLE)
                                 / (CAST({rrf_k} AS DOUBLE) + CAST(vec_rank AS DOUBLE)),
                                 CAST(0.0 AS DOUBLE))) * 1e9 + 0.5) / 1e9 AS rrf_score
        FROM lex FULL OUTER JOIN vec ON lex.id = vec.id
    )
    SELECT id AS {id_col}, lex_rank, vec_rank, rrf_score
    FROM fused ORDER BY rrf_score DESC, id LIMIT {top_n}
    """


def sql_bm25_topk(
    table: str,
    sql_toks: str,
    n_terms: int = 8,
    top_n: int = 20,
    id_col: str = "doc_id",
    k1: float = K1,
    b: float = B,
) -> str:
    """DuckDB twin of :func:`bm25_topk`: same derived query terms, same
    quantized IDF, same unit-long exact sum, same tiebroken top-k.
    Constants are emitted as Python-computed reprs CAST AS DOUBLE
    (DuckDB evaluates bare decimal literals in DECIMAL — CLAUDE.md)."""
    return f"""
    WITH tok AS (
        SELECT id, token FROM (
            SELECT {id_col} AS id, unnest({sql_toks}) AS token FROM {table}
        ) WHERE token <> ''
    ),
    tf AS (
        SELECT id, token, CAST(COUNT(*) AS BIGINT) AS tf
        FROM tok GROUP BY id, token
    ),
    doclen AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS dl FROM tok GROUP BY id),
    dfreq AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY token),
    qterms AS (SELECT token, df FROM dfreq ORDER BY df DESC, token LIMIT {n_terms}),
    stats AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(dl) AS BIGINT) AS total_len
        FROM doclen
    ),
    q AS (
        SELECT token,
               FLOOR(ln(CAST({1.0!r} AS DOUBLE)
                        + (CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
                          / (CAST(df AS DOUBLE) + 0.5)) * 1e9 + 0.5) / 1e9 AS idf,
               n_docs, total_len
        FROM qterms CROSS JOIN stats
    ),
    scored AS (
        SELECT tf.id,
               CAST(COUNT(*) AS BIGINT) AS n_matched_terms,
               CAST(SUM(CAST(FLOOR(
                   q.idf
                   * (CAST(tf.tf AS DOUBLE) * CAST({float(k1 + 1.0)!r} AS DOUBLE))
                   / (CAST(tf.tf AS DOUBLE)
                      + CAST({float(k1)!r} AS DOUBLE)
                        * (CAST({float(1.0 - b)!r} AS DOUBLE)
                           + CAST({float(b)!r} AS DOUBLE)
                             * (CAST(doclen.dl AS DOUBLE)
                                / (CAST(q.total_len AS DOUBLE)
                                   / CAST(q.n_docs AS DOUBLE)))))
                   * 1e6 + 0.5) AS BIGINT)) AS BIGINT) AS su
        FROM tf JOIN q USING (token) JOIN doclen ON doclen.id = tf.id
        GROUP BY tf.id
    )
    SELECT id AS {id_col}, n_matched_terms, su / 1e6 AS bm25_score
    FROM scored ORDER BY su DESC, id LIMIT {top_n}
    """


def retrieval_metrics(
    run: DataFrame,
    qrels: DataFrame,
    k: int = 5,
    query_id_col: str = "query_id",
    cand_id_col: str = "cand_id",
    rank_col: str = "rank",
) -> DataFrame:
    """Per-query retrieval quality — the MEASUREMENT step of the
    curation loop (evaluate a retriever/index change before shipping
    it): given a ranked ``run`` (query, cand, rank) and a relevance
    table ``qrels`` (query, cand), emit

        (query_id, n_rel, hits_at_k, recall_at_k, first_rel_rank, rr)

    with recall@k = |relevant ∩ top-k| / |relevant| and rr = 1/rank of
    the first relevant result (the MRR addend; Voorhees TREC-8).  The
    0 sentinel fills first_rel_rank/rr for queries with no relevant
    retrieval and recall for queries with no relevant set (the
    nullable-numeric pandas-upcast rule), so both engines emit
    identical rows.  The output covers the UNION of run and qrels
    query ids: a query the retriever never returned at all still gets
    an all-zero row (round-9 ADVICE — silently excluding never-
    retrieved queries would overstate any average computed over the
    output).

    Determinism: counts are exact integers; recall and rr are single
    IEEE divisions of small ints — hash-exact with no quantization
    needed.  Scale: one (query, cand) equi-join of the bounded run
    (Q×k rows) against qrels + two grouped aggregates; nothing touches
    the corpus."""
    r = run.select(
        F.col(query_id_col).alias("query_id"),
        F.col(cand_id_col).alias("cand_id"),
        F.col(rank_col).cast("long").alias("rank"),
    )
    rel = qrels.select(
        F.col(query_id_col).alias("query_id"), F.col(cand_id_col).alias("cand_id")
    ).distinct()
    nrel = rel.groupBy("query_id").agg(F.count(F.lit(1)).cast("long").alias("n_rel"))
    hits = (
        r.join(rel.withColumn("_rel", F.lit(1)), ["query_id", "cand_id"], "left")
        .groupBy("query_id")
        .agg(
            F.sum(
                F.when((F.col("_rel").isNotNull()) & (F.col("rank") <= k), 1).otherwise(0)
            )
            .cast("long")
            .alias("hits_at_k"),
            F.min(F.when(F.col("_rel").isNotNull(), F.col("rank")))
            .cast("long")
            .alias("_frr"),
        )
    )
    spine = r.select("query_id").unionByName(rel.select("query_id")).distinct()
    return (
        spine.join(hits, "query_id", "left")
        .join(nrel, "query_id", "left")
        .select(
            "query_id",
            F.coalesce("n_rel", F.lit(0)).cast("long").alias("n_rel"),
            F.coalesce("hits_at_k", F.lit(0)).cast("long").alias("hits_at_k"),
            F.when(
                F.coalesce("n_rel", F.lit(0)) > 0,
                F.coalesce("hits_at_k", F.lit(0)).cast("double")
                / F.col("n_rel").cast("double"),
            )
            .otherwise(F.lit(0.0))
            .alias("recall_at_k"),
            F.coalesce("_frr", F.lit(0)).cast("long").alias("first_rel_rank"),
            F.when(
                F.col("_frr").isNotNull(),
                F.lit(1.0) / F.col("_frr").cast("double"),
            )
            .otherwise(F.lit(0.0))
            .alias("rr"),
        )
        .orderBy("query_id")
    )
