"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed: the same seed gives the
same bytes.  The program under test only ever sees the files written
here: a CSV for ``ask``; for ``batch``, TPC-H-like parquet tables and
a document corpus.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CITIES = ("Mumbai", "Delhi", "Bangalore", "Chennai", "Kolkata", "Hyderabad", "Pune", "Ahmedabad")
SERVICES = ("Internet", "Phone", "TV", "Cloud", "Storage", "Email")
PRIORITIES = ("P1", "P2", "P3")

# Word list for generated documents (the shape of the harness corpus:
# short technical word salad, so shingles repeat across documents).
WORDS = (
    "data spark query engine table column filter join group window stream "
    "batch shuffle partition broadcast hash sort merge scan row key value "
    "vector line order part customer small big fast slow agg the a"
).split()


def ask_csv(seed: int, rows: int, now: dt.date, dup_share: float = 0.05) -> bytes:
    """One incidents CSV (7 columns, three of them semantic: city,
    service, date).  About ``dup_share`` of the rows are exact copies of
    earlier rows, so the reference's duplicate-collapse path has work.
    Dates span the 15 months before ``now``, so "last month" selects
    about one fifteenth of them."""
    rng = np.random.default_rng(seed)
    n_base = rows - int(rows * dup_share)
    city = rng.integers(0, len(CITIES), n_base)
    service = rng.integers(0, len(SERVICES), n_base)
    day0 = (now.replace(day=1) - dt.timedelta(days=400)).toordinal()
    day = rng.integers(0, 430, n_base)
    severity = rng.integers(1, 6, n_base)
    duration = rng.integers(1, 600, n_base)
    prio = rng.integers(0, len(PRIORITIES), n_base)
    cust = rng.integers(0, 5000, n_base)
    lines = [
        f"{CITIES[city[i]]},{SERVICES[service[i]]},"
        f"{dt.date.fromordinal(day0 + int(day[i])).isoformat()},"
        f"{severity[i]},{duration[i]},{PRIORITIES[prio[i]]},{cust[i]}"
        for i in range(n_base)
    ]
    dup_src = rng.integers(0, n_base, rows - n_base)
    dup_pos = np.sort(rng.integers(0, rows, rows - n_base))
    out = []
    j = 0
    for i, line in enumerate(lines):
        while j < len(dup_pos) and dup_pos[j] <= i:
            out.append(lines[dup_src[j]])
            j += 1
        out.append(line)
    out.extend(lines[dup_src[k]] for k in range(j, len(dup_pos)))
    header = "City,Service,incident_date,severity,duration_min,priority,customer_id"
    return ("\n".join([header, *out]) + "\n").encode()


def _texts(rng: np.random.Generator, n: int, dup_share: float, min_words: int, max_words: int) -> list[str]:
    """``n`` word-salad texts; ``dup_share`` of them are near copies of
    an earlier text (a few words replaced), the rest independent."""
    texts: list[str] = []
    vocab = np.array(WORDS)
    for i in range(n):
        if i > 0 and rng.random() < dup_share:
            words = texts[int(rng.integers(0, i))].split()
            for _ in range(int(rng.integers(1, 4))):
                words[int(rng.integers(0, len(words)))] = str(vocab[rng.integers(0, len(vocab))])
            texts.append(" ".join(words))
        else:
            k = int(rng.integers(min_words, max_words + 1))
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), k)]))
    return texts


def docs_corpus(seed: int, n_docs: int, dup_share: float = 0.2) -> pa.Table:
    """The ``ingest`` corpus: (doc_id, lang, text), ids ascending."""
    rng = np.random.default_rng(seed)
    langs = np.array(["en", "de", "fr", "es", "pt"])
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "lang": pa.array(langs[rng.integers(0, len(langs), n_docs)]),
            "text": pa.array(_texts(rng, n_docs, dup_share, 8, 40)),
        }
    )


def _days(rng: np.random.Generator, n: int, start: dt.datetime, end: dt.datetime) -> pa.Array:
    """``n`` random whole-day timestamps in [start, end)."""
    lo = int(start.replace(tzinfo=dt.timezone.utc).timestamp())
    hi = int(end.replace(tzinfo=dt.timezone.utc).timestamp())
    secs = lo + rng.integers(0, (hi - lo) // 86400, n) * 86400
    return pa.array(secs * 1000, type=pa.timestamp("ms"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def star_schema(seed: int, sf: float, out_dir: str) -> None:
    """Write the four harness tables the ``batch`` operators read
    (customer, orders, lineitem, documents) as parquet at scale factor
    ``sf`` (lineitem ≈ 6M × sf rows), with the harness schemas and
    value ranges."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), max(int(10_000 * sf), 10), int(200_000 * sf)
    n_ord, n_docs = int(1_500_000 * sf), max(int(50_000 * sf), 500)

    def put(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    segments = np.array(["MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING"])
    put(
        "customer",
        {
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
            "c_mktsegment": pa.array(segments[rng.integers(0, 5, n_cust)]),
        },
    )
    status = np.array(["O", "F", "P"])
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    put(
        "orders",
        {
            "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
            "o_orderstatus": pa.array(status[rng.integers(0, 3, n_ord)]),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_ord)),
            "o_orderdate": _days(rng, n_ord, dt.datetime(1995, 1, 1), dt.datetime(2001, 8, 2)),
            "o_orderpriority": pa.array(prio[rng.integers(0, 5, n_ord)]),
        },
    )
    per_order = rng.integers(1, 8, n_ord)
    n_li = int(per_order.sum())
    okey = np.repeat(np.arange(n_ord, dtype=np.int64), per_order)
    lnum = (np.arange(n_li) - np.repeat(np.cumsum(per_order) - per_order, per_order) + 1).astype(np.int32)
    flags = np.array(["A", "N", "R"])
    lstat = np.array(["O", "F"])
    put(
        "lineitem",
        {
            "l_orderkey": pa.array(okey),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li).astype(np.int64)),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li).astype(np.int64)),
            "l_linenumber": pa.array(lnum),
            "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n_li)),
            "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
            "l_returnflag": pa.array(flags[rng.integers(0, 3, n_li)]),
            "l_linestatus": pa.array(lstat[rng.integers(0, 2, n_li)]),
            "l_shipdate": _days(rng, n_li, dt.datetime(1995, 1, 2), dt.datetime(2001, 11, 5)),
        },
    )
    texts = _texts(rng, n_docs, 0.1, 10, 40)
    langs = np.array(["en", "zh", "de", "es", "fr"])
    put(
        "documents",
        {
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(langs[rng.integers(0, 5, n_docs)]),
            "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        },
    )
