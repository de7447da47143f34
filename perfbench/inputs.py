"""Benchmark inputs, generated from the seed and cached under the work dir.

* The PDF corpus comes from the program's own public generator,
  ``pipeline.corpus_df_distributed(spark, n, seed)``. Generation is input
  preparation: it is timed apart from set-up and never inside a run's
  measured loop. For seed 42 the corpus stats and content digest are pinned
  in ``expected.json``; a run refuses to start when they differ, so an edit
  to the generator cannot silently change the workload.
* The query tables are a TPC-H-like star schema plus ``events``,
  ``documents`` and ``embeddings``, with the column types and value
  distributions of the sf0.1 test data TESTDATA.md describes, so the
  benchmark reads nothing outside the repository. They are written by this
  module with a fixed seed, so the query fingerprints in ``expected.json``
  stay valid for every ``--seed``.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np

# corpus digest: order-free sum of masked 64-bit hashes (ANSI mode would
# raise on an overflowing sum of raw xxhash64 values)
MASK = 4294967295
CORPUS_STATS_SQL = [
    "count(*) AS n_docs",
    "sum(n_pages) AS n_pages",
    "sum(length(pdf)) AS bytes",
    f"sum(xxhash64(doc_id, pdf, n_pages, spans) & {MASK}) AS digest",
    f"sum(xxhash64(doc_id, spans) & {MASK}) AS golden_fp",
]
SPANS_FP_SQL = ["count(*) AS n", f"sum(xxhash64(doc_id, spans) & {MASK}) AS fp"]


def _done(path: str) -> dict | None:
    marker = os.path.join(path, "_BENCH_DONE.json")
    if os.path.exists(marker):
        with open(marker) as f:
            return json.load(f)
    return None


def _mark(path: str, info: dict) -> None:
    with open(os.path.join(path, "_BENCH_DONE.json"), "w") as f:
        json.dump(info, f)


def corpus(spark, work: str, seed: int, n_docs: int, pinned: dict) -> tuple[str, dict]:
    """Path of the cached seed corpus and its stats (n_docs, n_pages,
    bytes, digest, golden_fp). Raises when seed 42 no longer matches the
    pinned stats."""
    from docprompt_spark import pipeline

    path = os.path.join(work, "corpus", f"seed{seed}_n{n_docs}")
    info = _done(path)
    if info is None:
        shutil.rmtree(path, ignore_errors=True)
        pipeline.corpus_df_distributed(spark, n_docs, seed=seed).write.parquet(path)
        row = spark.read.parquet(path).selectExpr(*CORPUS_STATS_SQL).first()
        info = row.asDict()
        _mark(path, info)
    want = pinned.get(str(seed))
    if want is not None and want != {k: info[k] for k in want}:
        raise SystemExit(
            f"corpus for seed {seed} changed: expected {want}, got {info}; "
            "the workload is pinned, so the generator must not change it"
        )
    return path, info


def resume_base(spark, work: str, corpus_path: str, seed: int, n_docs: int) -> str:
    """A checkpoint as a crashed run leaves it: the pages of every doc
    whose index is not 3 mod 4 (3/4 of the corpus), written by the
    program's own checkpointed extraction."""
    from pyspark.sql import functions as F

    from docprompt_spark import pipeline

    path = os.path.join(work, "resume", f"seed{seed}_n{n_docs}")
    if _done(path) is None:
        shutil.rmtree(path, ignore_errors=True)
        docs = spark.read.parquet(corpus_path).select("doc_id", "pdf", "n_pages")
        idx = F.substring_index("doc_id", "-", -1).cast("int")
        pipeline.run_extraction(
            spark, docs.filter(idx % 4 != 3), checkpoint_dir=path, run_id="crashed"
        )
        _mark(path, {"seed": seed, "n_docs": n_docs})
    return path


# -- query tables ----------------------------------------------------------

_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PART_WORDS = "large hot blue ring bolt small red green steel nut gear pin".split()
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "en", "en", "zh", "es", "fr", "de"]


def _days(rng, n, start: str, span_days: int):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span_days, n).astype("timedelta64[D]")


def _tables(scale: float, seed: int) -> dict:
    import pyarrow as pa

    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * scale), max(int(10_000 * scale), 25)
    n_part, n_ord = int(200_000 * scale), int(1_500_000 * scale)
    n_li, n_ev = int(6_000_000 * scale), int(1_000_000 * scale)
    n_doc, n_emb = int(50_000 * scale), int(20_000 * scale)

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    def pick(values, n):
        return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])

    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": _REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": pick(_SEGMENTS, n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(-999.99, 9999.99, n_supp),
    })
    names = [f"{a} {b}" for a in _PART_WORDS for b in _PART_WORDS[:6]]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": pick(names, n_part),
        "p_brand": pick([f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": pick(_PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2),
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pick(["F", "O", "P"], n_ord),
        "o_totalprice": money(1000, 500_000, n_ord),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", 2405),
        "o_orderpriority": pick(_PRIORITIES, n_ord),
    })
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": money(900, 105_000, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": pick(["A", "N", "R"], n_li),
        "l_linestatus": pick(["F", "O"], n_li),
        "l_shipdate": _days(rng, n_li, "1995-01-02", 2499),
    })
    ts = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, max(n_ev // 66, 1), n_ev), pa.int64()),
        "event_type": pick(_EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    vocab = np.asarray(_VOCAB, dtype=object)
    texts = [
        " ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 101))])
        for _ in range(n_doc)
    ]
    for i in range(0, n_doc, 600):  # a few exact duplicates, as in sf0.1
        texts[i + 1] = texts[i]
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": pick(_LANGS, n_doc),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64()),
    })
    emb = rng.normal(0, 0.125, (n_emb, 64)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
    })
    return t


def query_tables(work: str, scale: float, seed: int = 42) -> str:
    """Directory of ``{table}.parquet`` files in the layout the query
    functions read (``sf_dir``)."""
    import pyarrow.parquet as pq

    path = os.path.join(work, "tables", f"scale{scale}_seed{seed}")
    if _done(path) is None:
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        for name, table in _tables(scale, seed).items():
            pq.write_table(table, os.path.join(path, f"{name}.parquet"))
        _mark(path, {"scale": scale, "seed": seed})
    return path
