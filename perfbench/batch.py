"""``batch``: the batch-pipeline user — registry operators plus the
streaming store writers, in one Spark session.

Operators (``OPS``) are called through the query registry and forced
end to end with the noop sink inside ``pipeline.cache_scope``.
Micro-batches of ``BATCH_DOCS`` documents from a seeded corpus (planted
near-duplicates) go through the four ``foreachBatch`` bodies — MinHash
admission, BM25 postings, Count-Min cells, HLL registers — and after
each batch the merged state is read back (verdicts, CM cells,
postings).

A run: one cold pass over the operators in the fresh session, whose
rows come back to the driver for the oracle check; micro-batch 0
against empty stores; one untimed operator pass; then, until the time
is up, two timed operator passes (each in a seed-shuffled order)
followed by one timed micro-batch; finally the CM store is compacted
with the two-phase generation swap and the MinHash bucket-min store in
place.

Correctness: each operator's result equals its DuckDB twin from
``all_oracles()`` (checked once, outside every timed region); after
each micro-batch there is one verdict per routed document, every CM row
sums to the documents routed, and the postings cover every routed
document; compaction leaves the merged MIN and SUM reads unchanged.
"""

from __future__ import annotations

import os
import random
import shutil
import time

import pyarrow.parquet as pq
from common import HostSentinels, Tracer, frames_equal, generic_layers, median
from datagen import docs_corpus, star_schema

# One operator from each batch layer: queries (relational three-way
# join + top-N), operators (iterative graph: PageRank) and pipeline
# (text: tf-idf top terms).  All three carry DuckDB oracle twins.  The
# pipeline.dedup MinHash kernel runs in every micro-batch's admission.
OPS = (
    "q3_shipping_priority",
    "graph_pagerank_trade_network",
    "docs_tfidf_top_terms",
)
TABLES = ("customer", "orders", "lineitem", "documents")
BATCH_DOCS = 500
MIN_TIMED = 2  # timed micro-batches, at least
# One call's time varies by ±20% within a run (PageRank more), and a
# pass costs about half a micro-batch: two passes per micro-batch give
# warm_s a median over at least 4 calls of each operator.
PASSES_PER_BATCH = 2
MAX_BATCHES = 10  # batch 0 plus at most 9 timed batches
CM_SCHEMA = "r INT, c BIGINT, cnt BIGINT, batch_id BIGINT"
MINS_SCHEMA = "band INT, bucket BIGINT, min_id BIGINT, batch_id BIGINT"


class Batch:
    def __init__(self, ctx):
        self.ctx = ctx
        self.sf_dir = os.path.join(ctx.work, "sf")
        star_schema(ctx.seed, 0.001 if ctx.tiny else 0.01, self.sf_dir)
        self.batch = BATCH_DOCS
        self.max_batches = 2 if ctx.tiny else MAX_BATCHES
        self.corpus_path = os.path.join(ctx.work, "corpus.parquet")
        pq.write_table(docs_corpus(ctx.seed, self.batch * self.max_batches), self.corpus_path)
        self.stores = os.path.join(ctx.work, "stores")
        self.mh, self.bm25 = f"{self.stores}/minhash", f"{self.stores}/bm25"
        self.cm, self.hll = f"{self.stores}/cm", f"{self.stores}/hll"

    def setup(self, spark) -> None:
        from csv_query_engine_spark.io.readers import load_tables
        from csv_query_engine_spark.queries import all_queries

        self.fns = {n: all_queries()[n] for n in OPS}
        load_tables(spark, self.sf_dir, TABLES)
        shutil.rmtree(self.stores, ignore_errors=True)
        os.makedirs(self.stores)
        self.corpus = spark.read.parquet(self.corpus_path)

    # -- operators -------------------------------------------------------

    def _call(self, spark, tracer: Tracer, name: str, collect: bool = False):
        """One operator call; returns (seconds, build seconds, rows)."""
        from csv_query_engine_spark.pipeline import cache_scope

        rows = None
        with tracer.span(f"op.{name}"), cache_scope(spark):
            t0 = time.perf_counter()
            with tracer.span(f"op.{name}.build"):
                df = self.fns[name](spark, self.sf_dir)
            t1 = time.perf_counter()
            with tracer.span(f"op.{name}.exec"):
                if collect:
                    rows = df.toPandas()
                else:
                    df.write.mode("overwrite").format("noop").save()
            t2 = time.perf_counter()
        return t2 - t0, t1 - t0, rows

    # -- micro-batches ---------------------------------------------------

    def _route(self, tracer: Tracer, b: int) -> float:
        from pyspark.sql import functions as F

        from csv_query_engine_spark.streaming import events as ev

        lo = b * self.batch
        bd = self.corpus.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < lo + self.batch))
        t0 = time.perf_counter()
        with tracer.span("streaming.route_minhash"):
            ev.route_minhash_admission_batch(bd, b, self.mh)
        with tracer.span("streaming.route_bm25"):
            ev.route_bm25_batch(bd, b, self.bm25)
        with tracer.span("streaming.route_cm"):
            ev.route_cm_batch(bd, b, "doc_id", self.cm)
        with tracer.span("streaming.route_hll"):
            ev.route_hll_batch(bd, b, "doc_id", "lang", self.hll)
        return time.perf_counter() - t0

    def _read(self, spark, tracer: Tracer, docs: int) -> tuple[float, bool]:
        """Merged-state reads after a batch; returns (seconds, state ok)."""
        from pyspark.sql import functions as F

        from csv_query_engine_spark.streaming import events as ev

        t0 = time.perf_counter()
        with tracer.span("streaming.read_verdicts"):
            verdicts = ev.read_minhash_verdicts(spark, self.mh).count()
        with tracer.span("streaming.read_cm"):
            cm = ev.read_cm_cells(spark, self.cm).groupBy("r").agg(F.sum("cnt")).collect()
        with tracer.span("streaming.read_postings"):
            posted = ev.read_bm25_postings(spark, self.bm25).agg(F.countDistinct("id")).collect()[0][0]
        s = time.perf_counter() - t0
        return s, verdicts == docs and len(cm) > 0 and all(r[1] == docs for r in cm) and posted == docs

    def _step(self, spark, tracer: Tracer, b: int, units: dict) -> tuple[float, float, bool]:
        units["batch"].append(len(tracer.spans))
        with tracer.span("batch", request=f"batch-{b}"):
            route_s = self._route(tracer, b)
        units["read"].append(len(tracer.spans))
        with tracer.span("read", request=f"batch-{b}"):
            read_s, ok = self._read(spark, tracer, self.batch * (b + 1))
        return route_s, read_s, ok

    def _snapshot(self, spark) -> tuple:
        """Full merged MIN (bucket mins) and SUM (CM cells) states."""
        from csv_query_engine_spark.streaming import events as ev

        mins = sorted(map(tuple, ev.read_minhash_bucket_mins(spark, self.mh).collect()))
        cells = sorted(map(tuple, ev.read_cm_cells(spark, self.cm).collect()))
        return mins, cells

    # -- the run -----------------------------------------------------------

    def run(self, spark, tracer: Tracer, seconds: float) -> dict:
        from csv_query_engine_spark.streaming import events as ev

        rng = random.Random(self.ctx.seed)
        attempted = failed = 0
        units = {"pass": [], "batch": [], "read": []}

        # cold: each operator's first call in the fresh session, with its
        # rows collected for the oracle check
        cold_idx = len(tracer.spans)
        results, cold_s = {}, 0.0
        with tracer.span("pass.cold"):
            for n in OPS:
                s, _, results[n] = self._call(spark, tracer, n, collect=True)
                cold_s += s
        attempted += len(OPS)
        b0_idx = len(tracer.spans)
        _, _, ok = self._step(spark, tracer, 0, {"batch": [], "read": []})
        attempted += 1
        failed += not ok
        with tracer.span("pass.warm"):
            for n in OPS:
                self._call(spark, tracer, n)
        tracer.collect_counters()

        host = HostSentinels(seconds)
        host.start()
        op_s = {n: [] for n in OPS}
        build_s = {n: [] for n in OPS}
        batch_s: list[float] = []
        read_s: list[float] = []
        t_end = time.perf_counter() + seconds
        b = 1
        while b < self.max_batches and (time.perf_counter() < t_end or len(batch_s) < MIN_TIMED):
            for _ in range(PASSES_PER_BATCH):
                order = list(OPS)
                rng.shuffle(order)
                units["pass"].append(len(tracer.spans))
                with tracer.span("pass.timed"):
                    for n in order:
                        s, bs, _ = self._call(spark, tracer, n)
                        op_s[n].append(s)
                        build_s[n].append(bs)
                attempted += len(OPS)
                host.tick()
            route_s, r_s, ok = self._step(spark, tracer, b, units)
            batch_s.append(route_s)
            read_s.append(r_s)
            attempted += 1
            failed += not ok
            host.tick()
            tracer.collect_counters()
            b += 1
        host.stop()

        before = self._snapshot(spark)
        t0 = time.perf_counter()
        with tracer.span("streaming.compact_sum"):
            ev.compact_sum_store(spark, self.cm, CM_SCHEMA, ["r", "c"], "cnt")
        t1 = time.perf_counter()
        with tracer.span("streaming.compact_min"):
            ev.compact_batch_store(spark, f"{self.mh}/mins", MINS_SCHEMA, ["band", "bucket"], "min_id", "min")
        t2 = time.perf_counter()
        attempted += 1
        failed += self._snapshot(spark) != before
        tracer.collect_counters()

        self.results = results
        out = {
            "attempted": attempted,
            "failed": failed,
            "e2e": {
                "cold_s": cold_s,
                "warm_s": sum(median(v) for v in op_s.values()),
                "side_s": median(batch_s),
            },
            "host": host.metrics(),
            "samples": len(batch_s),
            "extra": {
                "ops.build_s": sum(median(v) for v in build_s.values()),
                "streaming.read_s": median(read_s),
                "streaming.compact_sum_s": t1 - t0,
                "streaming.compact_min_s": t2 - t1,
            },
        }
        if tracer.enabled:
            out["layers"] = self._layers(tracer, units, cold_idx, b0_idx, b)
        return out

    def check(self) -> int:
        """Operators of the last run whose cold-pass rows differ from
        their DuckDB twin."""
        import duckdb

        from csv_query_engine_spark.queries import all_oracles

        oracles = all_oracles()
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(self.sf_dir, t)}.parquet')")
        bad = sum(not frames_equal(self.results[n], con.sql(oracles[n]).df()) for n in OPS)
        con.close()
        return bad

    # -- traced run ----------------------------------------------------------

    def _layers(self, tracer: Tracer, units: dict, cold_idx: int, b0_idx: int, n_batches: int) -> dict:
        generic = generic_layers(tracer, units["pass"], units["batch"], [cold_idx])

        def kids(parents: list[int], name: str) -> list[list[int]]:
            return [[c for c in tracer.children(p) if tracer.spans[c]["name"] == name] for p in parents]

        def dur(parents: list[int], name: str) -> float:
            return median(sum(tracer.duration(c) for c in cs) for cs in kids(parents, name))

        modules: dict[str, float] = {}
        calls = [c for p in units["pass"] for c in tracer.children(p)]
        cpu = 0.0
        for n in OPS:
            mine = [i for i in calls if tracer.spans[i]["name"] == f"op.{n}"]
            build = [c for cs in kids(mine, f"op.{n}.build") for c in cs]
            exec_ = [c for cs in kids(mine, f"op.{n}.exec") for c in cs]
            tc = [tracer.tree_counters(i) for i in mine]
            modules[f"ops.{n}.build_s"] = median(tracer.duration(i) for i in build)
            modules[f"ops.{n}.build_jobs"] = median(tracer.tree_counters(i)["jobs"] for i in build)
            modules[f"ops.{n}.exec_s"] = median(tracer.duration(i) for i in exec_)
            modules[f"ops.{n}.jobs"] = median(c["jobs"] for c in tc)
            modules[f"ops.{n}.tasks"] = median(c["tasks"] for c in tc)
            modules[f"ops.{n}.shuffle_mb"] = median(c["shuffle_read_mb"] + c["shuffle_write_mb"] for c in tc)
            cpu += median(c["executor_cpu_s"] for c in tc)
        modules["ops.cpu_s"] = cpu

        mh = [sum(tracer.duration(c) for c in cs) for cs in kids(units["batch"], "streaming.route_minhash")]
        half = max(1, len(mh) // 2)
        modules.update(
            {
                "streaming.first_batch_s": tracer.duration(b0_idx),
                "streaming.route_minhash_s": median(mh),
                "streaming.route_bm25_s": dur(units["batch"], "streaming.route_bm25"),
                "streaming.route_cm_s": dur(units["batch"], "streaming.route_cm"),
                "streaming.route_hll_s": dur(units["batch"], "streaming.route_hll"),
                "streaming.route_minhash_growth": median(mh[-half:]) / median(mh[:half]),
                "streaming.jobs_per_batch": generic["side.jobs"],
                "streaming.tasks_per_batch": generic["side.tasks"],
                "streaming.read_verdicts_s": dur(units["read"], "streaming.read_verdicts"),
                "streaming.read_cm_s": dur(units["read"], "streaming.read_cm"),
                "streaming.read_postings_s": dur(units["read"], "streaming.read_postings"),
                **self._layout(n_batches),
            }
        )
        return {"generic": generic, "modules": modules}

    def _layout(self, n_batches: int) -> dict:
        """Store layout at the end of the run (after compaction): bytes
        per routed document and parquet files per batch, all stores."""
        size = files = 0
        for root, _, names in os.walk(self.stores):
            for n in names:
                if n.endswith(".parquet"):
                    files += 1
                    size += os.path.getsize(os.path.join(root, n))
        return {
            "streaming.bytes_per_doc": size / (n_batches * self.batch),
            "streaming.files_per_batch": files / n_batches,
        }
