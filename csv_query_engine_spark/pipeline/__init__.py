"""LLM-training-data pipeline operators at scale (SURVEY.md §7 phase 6;
no reference code — these extend the engine for the 100 TB use case):

* :mod:`text`       — tokenization, quality scoring, language ID,
                      fingerprinting, vocab coverage, PII scrubbing,
                      repetition/contamination/dup-span screens (all
                      JVM-side built-ins)
* :mod:`dedup`      — exact, n-gram Jaccard, MinHash LSH (one-
                      permutation hashing), SimHash, connected-
                      components clustering (min-label propagation +
                      large-star/small-star contraction), incremental
                      batch admission
* :mod:`chunking`   — overlapping retrieval chunks and deterministic
                      token-budgeted training-shard layout
* :mod:`similarity` — embedding cosine top-k (brute force, LSH-bucketed,
                      IVF, int8-quantized with exact rescoring),
                      banded near-dup pairs, per-label centroids
* :mod:`packing`    — fixed-length training-sequence packing via
                      hierarchical prefix sums
* :mod:`sampling`   — deterministic splits, stratified reservoirs,
                      token-budget mixes
* :mod:`multimodal` — binary media columns with typed metadata and
                      Arrow-batched decode/feature plumbing (real codecs
                      stubbed: no media libs in this environment; the
                      deterministic fakes are oracle-checked)
"""

from __future__ import annotations

import contextlib
from collections.abc import Iterator

from pyspark.sql import SparkSession


@contextlib.contextmanager
def cache_scope(spark: SparkSession) -> Iterator[None]:
    """Bound the cache lifetime of pipeline operators to a scope.

    Several operators persist multi-consumer intermediates (minhash
    signature tables, cluster token/gram tables, simhash signatures) and
    document that CACHE LIFETIME IS CALLER-OWNED — the blocks otherwise
    live until GC, clearCache, or eviction. Wrapping calls in this scope
    releases, on exit, the blocks of every persistent RDD created inside
    the scope (cached tables and the localCheckpoint blocks of the
    iterative operators — which ``spark.catalog.clearCache()`` alone
    does NOT touch), leaving anything persisted before it untouched.
    Measured: letting these accumulate across an 89-query run inflated
    the suite ~33% through memory/GC churn (BASELINE.md round 4).

    The SQL-cache ENTRIES of tables cached inside the scope stay
    registered.  A later call that builds the same plan finds the stale
    entry, so its ``persist()`` is a no-op and it recomputes through the
    first call's lineage instead of re-caching.  Dropping the entries on
    exit is not a free fix: repeat PageRank and tf-idf calls that
    re-cached measured slower (local[4], sf0.01: 2.74–3.47 s vs
    0.99–2.15 s and 0.77–0.97 s vs 0.39–0.78 s per call).

        with cache_scope(spark):
            pairs = minhash_lsh_pairs(docs).collect()
        # signature-table blocks released here
    """
    sc = spark.sparkContext
    jvm = sc._jvm
    jsc = sc._jsc.sc()

    def _persistent_ids() -> set[int]:
        return {
            int(rid)
            for rid in jvm.scala.collection.JavaConverters.mapAsJavaMap(
                jsc.getPersistentRDDs()
            ).keys()
        }

    before = _persistent_ids()
    try:
        yield
    finally:
        for rid, rdd in jvm.scala.collection.JavaConverters.mapAsJavaMap(
            jsc.getPersistentRDDs()
        ).items():
            if int(rid) not in before:
                rdd.unpersist(False)
