"""Checkpoint/resume: kill-and-resume yields identical output, and the
resumed run parses only the missing (doc_id, page_bucket) work units
(anti-join resume, reference rasterizer.py:291-297)."""

import pyspark.sql.functions as F

from docprompt_spark import pipeline


def _spans_map(df):
    return {
        r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans"]]
        for r in df.collect()
    }


def test_checkpoint_resume_exact(spark, tmp_path, monkeypatch):
    """Checkpoint = no-checkpoint equality at the default skew threshold
    (no tail) and at threshold 0 (every doc in the tail, the narrow side
    empty)."""
    docs = pipeline.corpus_df(spark, 12, seed=7, skew_every=0)
    docs.persist().count()
    outputs = []
    for threshold in (pipeline.SKEW_PAGE_THRESHOLD, 0):
        monkeypatch.setattr(pipeline, "SKEW_PAGE_THRESHOLD", threshold)
        outputs.append(_resume_exact(spark, docs, str(tmp_path / f"ckpt{threshold}")))
    assert outputs[0] == outputs[1]


def _resume_exact(spark, docs, ckpt):
    # reference output: single uninterrupted run, no checkpointing
    expected = _spans_map(pipeline.run_extraction(spark, docs))

    # run 1: "crashes" after processing only the first half of the corpus
    first_half = docs.filter(F.col("doc_id") < "doc-7-00000006")
    pipeline.run_extraction(spark, first_half, checkpoint_dir=ckpt, run_id="run1").count()

    # run 2: resume over the full corpus
    result = pipeline.run_extraction(spark, docs, checkpoint_dir=ckpt, run_id="run2")
    got = _spans_map(result)
    assert got == expected

    # lineage: run2 must have parsed only the docs run1 didn't checkpoint
    pages = spark.read.parquet(f"{ckpt}/pages")
    run2_docs = {
        r["doc_id"] for r in pages.filter(F.col("run_id") == "run2").select("doc_id").distinct().collect()
    }
    assert run2_docs == {f"doc-7-{i:08d}" for i in range(6, 12)}

    lineage = spark.read.parquet(f"{ckpt}/lineage")
    assert lineage.filter(F.col("run_id") == "run1").count() > 0
    assert lineage.filter(F.col("run_id") == "run2").count() > 0
    totals = lineage.agg(F.sum("n_pages").alias("p")).collect()[0]["p"]
    assert totals == pages.count()

    # run 3: nothing left to do — checkpoint untouched, output identical
    before = pages.count()
    result3 = pipeline.run_extraction(spark, docs, checkpoint_dir=ckpt, run_id="run3")
    assert _spans_map(result3) == expected
    assert spark.read.parquet(f"{ckpt}/pages").count() == before
    return expected


def test_cache_proportion_progress_metric(spark, tmp_path):
    """A8 cache_proportion (reference rasterizer.py:299-303): 0 before any
    checkpoint, 1.0 after a full run, and strictly between for a partial
    corpus superset."""
    from docprompt_spark import pipeline

    ck = str(tmp_path / "ck")
    docs = pipeline.corpus_df(spark, 6, seed=21, skew_every=0)
    sel = docs.select("doc_id", "pdf", "n_pages")
    assert pipeline.cache_proportion(spark, sel, ck) == 0.0
    pipeline.run_extraction(spark, sel, checkpoint_dir=ck).count()
    assert pipeline.cache_proportion(spark, sel, ck) == 1.0
    # superset corpus: the original 6 docs are cached, the 4 new are not
    bigger = pipeline.corpus_df(spark, 10, seed=21, skew_every=0).select(
        "doc_id", "pdf", "n_pages"
    )
    frac = pipeline.cache_proportion(spark, bigger, ck)
    assert 0.0 < frac < 1.0
