"""End-to-end Spark pipeline: span-sequence equality against golden fixtures
(the north-rule correctness gate), plus partitioning/plan sanity."""

import pytest

from docprompt_spark import pipeline


N_DOCS = 30
SKEW_EVERY = 25  # doc 25 is a 24-64 page book


@pytest.fixture(scope="module")
def docs_df(spark):
    df = pipeline.corpus_df(spark, N_DOCS, seed=42, skew_every=SKEW_EVERY)
    df.persist()
    df.count()
    return df


def _collect_spans(df):
    rows = df.collect()
    return {
        r["doc_id"]: [
            (s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans"]
        ]
        for r in rows
    }


def test_span_sequence_equality(spark, docs_df, monkeypatch):
    """Golden spans for all three routing shapes. At the default
    threshold every corpus doc (<= 64 pages) is assembled in the narrow
    kernel and there is no tail; at threshold 16 the 61-page book
    doc-42-00000025 takes the repartition → page emitter → doc_spans
    branch instead; at threshold 0 every doc does and the narrow side is
    empty."""
    golden = _collect_spans(docs_df.select("doc_id", "spans"))
    for threshold in (pipeline.SKEW_PAGE_THRESHOLD, 16, 0):
        monkeypatch.setattr(pipeline, "SKEW_PAGE_THRESHOLD", threshold)
        got = _collect_spans(pipeline.run_extraction(spark, docs_df))
        assert set(got) == set(golden)
        for doc_id in golden:
            assert got[doc_id] == golden[doc_id], f"span mismatch for {doc_id}"


def test_salting_spreads_skew_doc(spark, docs_df):
    buckets = pipeline.salt_page_buckets(docs_df)
    per_doc = {
        r["doc_id"]: r["n"]
        for r in buckets.groupBy("doc_id").count().withColumnRenamed("count", "n").collect()
    }
    skew_id = f"doc-42-{SKEW_EVERY:08d}"
    assert per_doc[skew_id] >= 3  # the book fans out into multiple work units
    assert max(v for k, v in per_doc.items() if k != skew_id) <= 1


def test_exploded_output_shape(spark, docs_df):
    result = pipeline.run_extraction(spark, docs_df.limit(4))
    flat = pipeline.spans_exploded(result)
    assert flat.columns == ["doc_id", "seq", "kind", "text", "media_ref", "offset"]
    rows = flat.collect()
    assert len(rows) > 0
    kinds = {r["kind"] for r in rows}
    assert kinds <= {"word", "line", "block", "media"}
    # seq is dense per doc
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r["seq"])
    for seqs in by_doc.values():
        assert sorted(seqs) == list(range(len(seqs)))


def test_no_python_row_udfs_in_plan(spark, docs_df):
    """Pipeline must stay Arrow-vectorized: the only Python boundary is
    mapInPandas (ArrowEvalPython/MapInPandas), never BatchEvalPython."""
    result = pipeline.run_extraction(spark, docs_df.limit(2))
    plan = result._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan


def test_distributed_corpus_generation_matches_driver_side(spark):
    """corpus_df_distributed (executor-side gen_doc over an index range —
    the 100 TB synthetic-corpus pattern) is byte-identical to the
    driver-side createDataFrame path."""
    from docprompt_spark import pipeline

    dist = {
        r.doc_id: (bytes(r.pdf), r.n_pages, tuple(map(tuple, r.spans)))
        for r in pipeline.corpus_df_distributed(spark, 30, seed=9).collect()
    }
    drv = {
        r.doc_id: (bytes(r.pdf), r.n_pages, tuple(map(tuple, r.spans)))
        for r in pipeline.corpus_df(spark, 30, seed=9).collect()
    }
    assert dist == drv and len(dist) == 30
