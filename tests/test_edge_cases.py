"""Robustness edges: empty inputs, on_error=skip, single-page docs, unwrap
failures."""

import pytest

from docprompt_spark import pipeline, pdfparse


def test_run_extraction_empty_input(spark):
    docs = pipeline.corpus_df(spark, 2, seed=1, skew_every=0).filter("doc_id = 'nope'")
    out = pipeline.run_extraction(spark, docs.select("doc_id", "pdf", "n_pages"))
    assert out.count() == 0


def test_on_error_skip_drops_corrupt_doc(spark):
    good = pipeline.corpus_df(spark, 3, seed=2, skew_every=0).select(
        "doc_id", "pdf", "n_pages"
    )
    bad = spark.createDataFrame(
        [("doc-corrupt", bytearray(b"this is not a pdf at all"), 1)],
        schema="doc_id string, pdf binary, n_pages int",
    )
    both = good.unionAll(bad)
    out = pipeline.run_extraction(spark, both, on_error="skip")
    ids = {r["doc_id"] for r in out.select("doc_id").collect()}
    assert ids == {f"doc-2-{i:08d}" for i in range(3)}

    with pytest.raises(Exception):
        pipeline.run_extraction(spark, both, on_error="fail").count()


def test_on_error_skip_drops_doc_with_failed_middle_bucket(spark):
    """The document is the skip unit: a 61-page doc whose middle bucket
    fails must not come out with the other buckets' spans at shifted
    offsets. The good doc after it in the same partition still comes out
    exact."""
    from docprompt_spark import corpus

    book = corpus.gen_doc(25, seed=42, skew_every=25)
    good = corpus.gen_doc(1, seed=42, skew_every=25)
    raw = pdfparse.unwrap_pdf_bytes(bytes(book["pdf"]))
    # page 20's content stream claims a filter its bytes lack: bucket 1
    # (pages 17-32) raises zlib.error, buckets 0 and 2 parse
    bad = raw.replace(b"<<  /Length 2610 >>", b"<</Length 2610/Filter/FlateDecode>>")
    assert bad != raw and book["n_pages"] == 61
    docs = spark.createDataFrame(
        [
            (book["doc_id"], bytearray(bad), book["n_pages"]),
            (good["doc_id"], bytearray(good["pdf"]), good["n_pages"]),
        ],
        schema="doc_id string, pdf binary, n_pages int",
    ).coalesce(1)
    out = pipeline.run_extraction(spark, docs, on_error="skip").collect()
    assert [r["doc_id"] for r in out] == [good["doc_id"]]
    assert [tuple(s) for s in out[0]["spans"]] == [
        (s["kind"], s["text"], s["media_ref"], s["offset"]) for s in good["spans"]
    ]

    with pytest.raises(Exception):
        pipeline.run_extraction(spark, docs, on_error="fail").count()


def test_unwrap_rejects_garbage():
    with pytest.raises(ValueError):
        pdfparse.unwrap_pdf_bytes(b"\x00\x01\x02 garbage")


def test_unwrap_depth_limited():
    import gzip

    blob = b"%PDF-fake"
    for _ in range(6):
        blob = gzip.compress(blob, mtime=0)
    with pytest.raises(ValueError):
        pdfparse.unwrap_pdf_bytes(blob)


def test_bx_ex_compatibility_sections_and_unknown_ops():
    """§7.8.2 BX/EX: unknown operators inside (or outside) compatibility
    sections are ignored without derailing the interpreter — text before
    and after extracts normally."""
    from docprompt_spark import pdfparse, pdfwrite

    pages = [{"width": 612.0, "height": 792.0, "images": [],
              "text_ops": [{"font": "F1", "size": 10.0, "x": 72.0,
                            "y": 700.0, "mode": "Tm",
                            "segments": ["alpha beta"]}]}]
    pdf = pdfwrite.write_pdf(pages, doc_title="t")
    pf = pdfparse.PdfFile(pdf)
    res = pf.resolve(pf._inherited(pf.resolve(pf.page_refs[0]), "Resources"))
    fonts = {"F1": pf._load_font(res["Font"]["F1"])}
    content = (
        b"BX /Fancy 3 newProprietaryOp EX "
        b"BT /F1 10 Tf 1 0 0 1 72 700 Tm (kept) Tj ET "
        b"1 2 3 mysteryOp BT /F1 10 Tf 1 0 0 1 72 680 Tm (also) Tj ET"
    )
    words, _, _ = pdfparse._interpret_content(
        content, fonts=fonts, xobjects={}, resolve=pf.resolve,
        page_w=612.0, page_h=792.0,
    )
    assert [w["text"] for w in words] == ["kept", "also"]


def test_narrow_doc_parsed_whole_when_n_pages_understates(spark, tmp_path):
    """A narrow doc is one work unit parsed whole, so its pages do not
    depend on n_pages: a 61-page book that claims one page still comes out
    with every golden span, with and without a checkpoint, and
    page_blocks gives a row for each of its 61 pages."""
    from docprompt_spark import corpus

    book = corpus.gen_doc(25, seed=42, skew_every=25)
    assert book["n_pages"] == 61
    docs = spark.createDataFrame(
        [(book["doc_id"], bytearray(book["pdf"]), 1)],
        schema="doc_id string, pdf binary, n_pages int",
    )
    golden = [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in book["spans"]]
    for ckpt in (None, str(tmp_path / "ckpt")):
        out = pipeline.run_extraction(spark, docs, checkpoint_dir=ckpt).collect()
        assert [r["doc_id"] for r in out] == [book["doc_id"]], ckpt
        assert [tuple(s) for s in out[0]["spans"]] == golden, ckpt
    assert pipeline.page_blocks(docs).count() == 61
