"""The extraction pipeline: documents → parsed pages → ordered span sequences.

Spark shape (SURVEY.md §3.1 "Spark shape"):

    docs(doc_id, pdf, n_pages)
      → explode page buckets (salting: explicit skew handling for huge docs,
        replacing the reference's greedy LPT bin-packing,
        /root/reference/docprompt/_pdfium.py:258-289)
      → docs of <= SKEW_PAGE_THRESHOLD pages (the overwhelming majority):
        mapInPandas(parse + layout + doc assembly) in one narrow kernel,
        no post-parse shuffle               # Arrow-batched, no per-row Python UDFs
      → skew tail only: repartition(doc_id, page_bucket)
        → mapInPandas(parse + layout)
        → window(page offsets) + groupBy(doc_id) ordered collect
      → (doc_id, spans array<struct<kind,text,media_ref,offset>>)

Checkpoint/resume (reference FilesystemCache + anti-join resume,
rasterizer.py:62-307): parsed page rows are appended to a parquet checkpoint
table; a re-run anti-joins completed (doc_id, page_bucket) pairs and only
parses the remainder. This path still assembles every doc, small or not,
through the window + groupBy(doc_id) above. Per-partition lineage rows
(partition id, doc/page/span counts, wall time, run id) are derived from the
checkpointed pages.
"""

from __future__ import annotations

import time
import uuid
from typing import Iterator, Optional

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

SPAN_TYPE = StructType(
    [
        StructField("kind", StringType()),
        StructField("text", StringType()),
        StructField("media_ref", StringType()),
        StructField("offset", IntegerType()),
    ]
)

DOCS_SCHEMA = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("pdf", BinaryType(), False),
        StructField("n_pages", IntegerType(), False),
        StructField("spans", ArrayType(SPAN_TYPE), True),  # golden (input_hint shape)
    ]
)

PAGE_SCHEMA = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("page_bucket", IntegerType(), False),
        StructField("page_number", IntegerType(), False),
        # only the LENGTH of the page text is needed downstream (doc-level
        # offset windows); shipping the text itself would add ~30% exchange
        # volume for nothing — span texts already carry the content
        StructField("page_text_len", IntegerType(), False),
        StructField("spans", ArrayType(SPAN_TYPE), False),  # page-local offsets
        StructField("n_words", IntegerType(), False),
        StructField("n_lines", IntegerType(), False),
        StructField("n_blocks", IntegerType(), False),
        StructField("n_media", IntegerType(), False),
        StructField("parse_ms", DoubleType(), False),
        StructField("partition_id", IntegerType(), False),
    ]
)

_BBOX_FIELDS = [
    StructField("x0", DoubleType()),
    StructField("top", DoubleType()),
    StructField("x1", DoubleType()),
    StructField("bottom", DoubleType()),
    # BoundingPoly carry-through (reference schema/layout.py:202-213 /
    # from_bounding_poly:152-157): 4 normalized vertices flattened in the
    # reference's order top_left, top_right, bottom_right, bottom_left.
    # Axis-aligned providers emit the degenerate (rectangular) quad; a
    # rotated-quad provider would populate the same column.
    StructField("poly", ArrayType(DoubleType())),
]

# TextBlock hierarchy (SURVEY §1.3: OcrPageResult.word/line/block_level_blocks,
# reference schema/layout.py TextBlock): per-page arrays of typed blocks with
# geometry + page-level text spans, the table provenance search consumes
# (reference provenance/search.py:42-82 builds its index from exactly these).
_WORD_BLOCK = StructType(
    [StructField("text", StringType()), StructField("start", IntegerType()),
     StructField("end", IntegerType())] + _BBOX_FIELDS
)
_LINE_BLOCK = StructType(
    [StructField("text", StringType()), StructField("start", IntegerType()),
     StructField("end", IntegerType()), StructField("n_words", IntegerType())]
    + _BBOX_FIELDS
)
_BLOCK_BLOCK = StructType(
    [StructField("start", IntegerType()), StructField("end", IntegerType()),
     StructField("n_lines", IntegerType())] + _BBOX_FIELDS
)

BLOCKS_SCHEMA = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("page_number", IntegerType(), False),
        StructField("page_text_len", IntegerType(), False),
        StructField("word_blocks", ArrayType(_WORD_BLOCK), False),
        StructField("line_blocks", ArrayType(_LINE_BLOCK), False),
        StructField("block_blocks", ArrayType(_BLOCK_BLOCK), False),
    ]
)

DEFAULT_PAGES_PER_BUCKET = 16


def salt_page_buckets(docs_df: DataFrame, pages_per_bucket: int = DEFAULT_PAGES_PER_BUCKET) -> DataFrame:
    """Explode each document into (doc_id, page_bucket) work units.

    A 5000-page document becomes ~312 independent tasks instead of one
    straggler — size-balanced partitions per the north rule. At 100 TB the
    ``pdf`` column would be an object-store reference; duplicating it per
    bucket here is the sandbox stand-in.
    """
    n_buckets = F.greatest(
        F.lit(1), F.ceil(F.col("n_pages") / F.lit(pages_per_bucket))
    ).cast("int")
    return docs_df.withColumn(
        "page_bucket", F.explode(F.sequence(F.lit(0), n_buckets - F.lit(1)))
    )


def _parse_and_layout(pages_per_bucket: int, on_error: str):
    """mapInPandas kernel: parse the bucket's pages and run layout, one call
    per document-bucket, vectorized across the Arrow batch."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import gc

        from pyspark import TaskContext

        from docprompt_spark import kernels, pdfparse

        tc = TaskContext.get()
        pid = tc.partitionId() if tc is not None else -1
        # the parse kernel allocates millions of small acyclic dicts per
        # task; cyclic-GC sweeps buy nothing here (refcounting frees
        # everything) and cost ~6% — disable for the task, restore after
        gc_was_enabled = gc.isenabled()
        gc.disable()
        try:
            yield from _parse_batches(batches, pid)
        finally:
            if gc_was_enabled:
                gc.enable()
            gc.collect()

    def _parse_batches(batches, pid):
        from docprompt_spark import kernels, pdfparse

        for pdf_batch in batches:
            rows = []
            for doc_id, blob, bucket in zip(
                pdf_batch["doc_id"], pdf_batch["pdf"], pdf_batch["page_bucket"]
            ):
                t0 = time.perf_counter()
                lo = int(bucket) * pages_per_bucket
                hi = lo + pages_per_bucket
                try:
                    pages = pdfparse.extract_pages(
                        bytes(blob), lo, hi, with_vectors=False
                    )
                except Exception:
                    if on_error == "skip":
                        continue
                    raise
                ms = (time.perf_counter() - t0) * 1000.0
                for p in pages:
                    layout = kernels.build_page_layout(p["words"])
                    spans = kernels.assemble_page_spans(layout, p["images"])
                    rows.append(
                        {
                            "doc_id": doc_id,
                            "page_bucket": int(bucket),
                            "page_number": p["page_number"],
                            "page_text_len": len(layout["page_text"]),
                            "spans": spans,
                            "n_words": sum(len(ln["words"]) for ln in layout["lines"]),
                            "n_lines": len(layout["lines"]),
                            "n_blocks": len(layout["blocks"]),
                            "n_media": len(p["images"]),
                            "parse_ms": ms / max(len(pages), 1),
                            "partition_id": pid,
                        }
                    )
            if rows:
                yield pd.DataFrame(rows)

    return fn


SKEW_PAGE_THRESHOLD = 4 * DEFAULT_PAGES_PER_BUCKET

DOC_SPANS_SCHEMA = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("spans", ArrayType(SPAN_TYPE), True),
    ]
)


def _parse_and_assemble(pages_per_bucket: int, on_error: str):
    """Small-doc kernel: parse a doc's buckets AND assemble its document-
    level span sequence in one pass, emitting finished (doc_id, spans)
    rows.

    All buckets of a document are consecutive within one partition
    (salt_page_buckets explodes in place and the narrow path never
    shuffles), so cumulative page offsets are computable locally — the
    doc_id exchange + window + ordered collect that doc_spans() performs
    become unnecessary for the overwhelming small-doc majority. At 100 TB
    this removes the one shuffle that carried every span's text. Offsets
    and ordering are bit-identical to doc_spans(): page_start = Σ
    (page_text_len + 1) over preceding pages in page_number order."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import gc

        from docprompt_spark import kernels, pdfparse  # import before gc off

        gc_was_enabled = gc.isenabled()
        gc.disable()
        try:
            yield from _assemble_batches(batches)
        finally:
            if gc_was_enabled:
                gc.enable()
            gc.collect()

    def _assemble_batches(batches):
        from docprompt_spark import kernels, pdfparse

        cur_doc = None
        cur_pages: list = []  # (page_number, page_text_len, spans)

        def flush():
            nonlocal cur_doc, cur_pages
            row = None
            if cur_pages:
                cur_pages.sort(key=lambda p: p[0])
                spans: list = []
                off = 0
                for _pn, plen, pspans in cur_pages:
                    if off:
                        for s in pspans:
                            s2 = dict(s)
                            s2["offset"] = s2["offset"] + off
                            spans.append(s2)
                    else:
                        spans.extend(pspans)
                    off += plen + 1
                row = {"doc_id": cur_doc, "spans": spans}
            cur_doc, cur_pages = None, []
            return row

        for pdf_batch in batches:
            rows = []
            for doc_id, blob, bucket in zip(
                pdf_batch["doc_id"], pdf_batch["pdf"], pdf_batch["page_bucket"]
            ):
                if doc_id != cur_doc:
                    r = flush()
                    if r is not None:
                        rows.append(r)
                    cur_doc = doc_id
                lo = int(bucket) * pages_per_bucket
                try:
                    pages = pdfparse.extract_pages(
                        bytes(blob), lo, lo + pages_per_bucket,
                        with_vectors=False,
                    )
                except Exception:
                    if on_error == "skip":
                        continue
                    raise
                for p in pages:
                    layout = kernels.build_page_layout(p["words"])
                    pspans = kernels.assemble_page_spans(layout, p["images"])
                    cur_pages.append(
                        (p["page_number"], len(layout["page_text"]), pspans)
                    )
            if rows:
                yield pd.DataFrame(rows)
        r = flush()
        if r is not None:
            yield pd.DataFrame([r])

    return fn


def parse_pages(
    buckets_df: DataFrame,
    pages_per_bucket: int = DEFAULT_PAGES_PER_BUCKET,
    on_error: str = "fail",
    parallelism: Optional[int] = None,
    skew_page_threshold: int = SKEW_PAGE_THRESHOLD,
) -> DataFrame:
    """Salted bucket rows → page rows, with differentiated skew handling.

    Small documents (the overwhelming majority) parse NARROWLY on the input
    partitioning — zero shuffle; at 100 TB you never want to shuffle raw
    document bytes. Only skew-tail documents (n_pages > threshold, whose
    buckets would otherwise serialize inside one input split) are exploded
    and repartitioned by (doc_id, page_bucket) so a 5000-page book fans out
    across the cluster instead of pinning one task.
    """
    fn = _parse_and_layout(pages_per_bucket, on_error)
    return _route_and_map(
        buckets_df, fn, PAGE_SCHEMA, parallelism, skew_page_threshold
    )


def _route_and_map(buckets_df, fn, schema, parallelism, skew_page_threshold):
    """Differentiated skew routing shared by the span and block pipelines:
    small docs map narrowly (zero shuffle), only skew-tail docs repartition."""
    from docprompt_spark.shipping import ensure_py_files

    spark = buckets_df.sparkSession
    ensure_py_files(spark)
    cols = ["doc_id", "pdf", "page_bucket"]
    small = buckets_df.filter(F.col("n_pages") <= skew_page_threshold).select(*cols)
    big = buckets_df.filter(F.col("n_pages") > skew_page_threshold).select(*cols)
    # 4 waves of small tasks on the skew path: straggler/tail variance
    # dominates at high core counts (measured: 4x beats 2x and 8x)
    nparts = parallelism or spark.sparkContext.defaultParallelism * 4
    big = big.repartition(nparts, "doc_id", "page_bucket")
    return small.mapInPandas(fn, schema=schema).unionAll(
        big.mapInPandas(fn, schema=schema)
    )


def _layout_to_block_row(doc_id: str, page_number: int, layout: dict) -> dict:
    """kernels.build_page_layout output → one BLOCKS_SCHEMA row."""
    word_blocks, line_blocks, block_blocks = [], [], []

    def _poly(bb):
        # reference vertex order: TL, TR, BR, BL (layout.py:152-157)
        return [bb[0], bb[1], bb[2], bb[1], bb[2], bb[3], bb[0], bb[3]]

    for ln in layout["lines"]:
        bb = ln["bbox"]
        line_blocks.append(
            {
                "text": ln["text"], "start": ln["start"],
                "end": ln["start"] + len(ln["text"]), "n_words": len(ln["words"]),
                "x0": bb[0], "top": bb[1], "x1": bb[2], "bottom": bb[3],
                "poly": _poly(bb),
            }
        )
        for w in ln["words"]:
            wb = w["bbox"]
            word_blocks.append(
                {
                    "text": w["text"], "start": w["start"],
                    "end": w["start"] + len(w["text"]),
                    "x0": wb[0], "top": wb[1], "x1": wb[2], "bottom": wb[3],
                    "poly": _poly(wb),
                }
            )
    for b in layout["blocks"]:
        bb = b["bbox"]
        block_blocks.append(
            {
                "start": b["start"], "end": b["end"], "n_lines": len(b["line_idx"]),
                "x0": bb[0], "top": bb[1], "x1": bb[2], "bottom": bb[3],
                "poly": _poly(bb),
            }
        )
    return {
        "doc_id": doc_id,
        "page_number": page_number,
        "page_text_len": len(layout["page_text"]),
        "word_blocks": word_blocks,
        "line_blocks": line_blocks,
        "block_blocks": block_blocks,
    }


def _parse_to_blocks(pages_per_bucket: int, on_error: str):
    """mapInPandas kernel emitting the TextBlock hierarchy per page."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import gc

        from docprompt_spark import kernels, pdfparse  # import before gc off

        gc_was_enabled = gc.isenabled()
        gc.disable()
        try:
            yield from _block_batches(batches)
        finally:
            if gc_was_enabled:
                gc.enable()
            gc.collect()

    def _block_batches(batches):
        from docprompt_spark import kernels, pdfparse

        for pdf_batch in batches:
            rows = []
            for doc_id, blob, bucket in zip(
                pdf_batch["doc_id"], pdf_batch["pdf"], pdf_batch["page_bucket"]
            ):
                lo = int(bucket) * pages_per_bucket
                try:
                    pages = pdfparse.extract_pages(
                        bytes(blob), lo, lo + pages_per_bucket, with_vectors=False
                    )
                except Exception:
                    if on_error == "skip":
                        continue
                    raise
                for p in pages:
                    layout = kernels.build_page_layout(p["words"])
                    rows.append(
                        _layout_to_block_row(doc_id, p["page_number"], layout)
                    )
            if rows:
                yield pd.DataFrame(rows)

    return fn


def page_blocks(
    buckets_df: DataFrame,
    pages_per_bucket: int = DEFAULT_PAGES_PER_BUCKET,
    on_error: str = "fail",
    parallelism: Optional[int] = None,
    skew_page_threshold: int = SKEW_PAGE_THRESHOLD,
) -> DataFrame:
    """The TextBlock hierarchy as a TABLE: per page, arrays of word/line/
    block-level blocks with normalized bboxes and page-level text spans
    (start/end char offsets) — the relational form of the reference's
    OcrPageResult (tasks/ocr/result.py word/line/block_level_blocks), which
    provenance search consumes (provenance/search.py:42-82). Same
    differentiated skew routing as parse_pages."""
    fn = _parse_to_blocks(pages_per_bucket, on_error)
    return _route_and_map(
        buckets_df, fn, BLOCKS_SCHEMA, parallelism, skew_page_threshold
    )


def doc_spans(pages_df: DataFrame) -> DataFrame:
    """Per-page rows → (doc_id, spans) with document-level offsets.

    Page offset = cumulative page_text lengths (+1 per PAGE_SEPARATOR) over
    preceding pages — a window over doc_id; the subsequent groupBy(doc_id)
    reuses the window's hash partitioning (no second shuffle).
    """
    w = (
        Window.partitionBy("doc_id")
        .orderBy("page_number")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    pages = pages_df.withColumn(
        "page_start",
        F.coalesce(F.sum(F.col("page_text_len") + F.lit(1)).over(w), F.lit(0)).cast(
            "int"
        ),
    )
    adj = pages.select(
        "doc_id",
        "page_number",
        F.expr(
            "transform(spans, s -> struct(s.kind as kind, s.text as text,"
            " s.media_ref as media_ref,"
            " cast(s.offset + page_start as int) as offset))"
        ).alias("spans"),
    )
    collected = adj.groupBy("doc_id").agg(
        F.collect_list(F.struct("page_number", "spans")).alias("ps")
    )
    return collected.select(
        "doc_id",
        F.flatten(F.expr("transform(array_sort(ps), p -> p.spans)")).alias("spans"),
    )


def run_extraction(
    spark: SparkSession,
    docs_df: DataFrame,
    checkpoint_dir: Optional[str] = None,
    run_id: Optional[str] = None,
    pages_per_bucket: int = DEFAULT_PAGES_PER_BUCKET,
    on_error: str = "fail",
) -> DataFrame:
    """End-to-end extraction with optional checkpoint/resume + lineage.

    With ``checkpoint_dir``: completed (doc_id, page_bucket) pairs are
    anti-joined away (exact resume, reference rasterizer.py:291-297 J4),
    freshly parsed pages are appended to ``{dir}/pages``, and per-partition
    lineage rows to ``{dir}/lineage``. Output is rebuilt from the checkpoint
    table, so a resumed run yields byte-identical spans.
    """
    run_id = run_id or uuid.uuid4().hex[:12]
    buckets = salt_page_buckets(docs_df, pages_per_bucket)

    if checkpoint_dir is None:
        # Small docs (the overwhelming majority): parse + doc assembly in
        # ONE narrow kernel — zero post-parse shuffle (the former plan
        # shipped every span through a doc_id exchange + window). Only the
        # skew tail (n_pages > threshold) still fans out page buckets
        # across the cluster and reassembles via doc_spans().
        from docprompt_spark.shipping import ensure_py_files

        ensure_py_files(spark)
        cols = ["doc_id", "pdf", "page_bucket"]
        small = buckets.filter(
            F.col("n_pages") <= SKEW_PAGE_THRESHOLD
        ).select(*cols)
        big = buckets.filter(F.col("n_pages") > SKEW_PAGE_THRESHOLD)
        assembled = small.mapInPandas(
            _parse_and_assemble(pages_per_bucket, on_error), DOC_SPANS_SCHEMA
        )
        return assembled.unionByName(
            doc_spans(parse_pages(big, pages_per_bucket, on_error))
        )

    pages_path = f"{checkpoint_dir}/pages"
    lineage_path = f"{checkpoint_dir}/lineage"
    try:
        done = spark.read.parquet(pages_path).select("doc_id", "page_bucket").distinct()
        todo = buckets.join(done, ["doc_id", "page_bucket"], "left_anti")
    except Exception:  # first run: no checkpoint yet
        todo = buckets

    new_pages = parse_pages(todo, pages_per_bucket, on_error).withColumn(
        "run_id", F.lit(run_id)
    )
    new_pages.write.mode("append").parquet(pages_path)

    all_pages = spark.read.parquet(pages_path)
    # idempotence under task retries / partial appends
    all_pages = all_pages.dropDuplicates(["doc_id", "page_number"])

    lineage = (
        all_pages.filter(F.col("run_id") == run_id)
        .groupBy("run_id", "partition_id")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count("*").alias("n_pages"),
            F.sum(F.size("spans")).alias("n_spans"),
            F.sum("n_media").alias("n_media"),
            F.sum("parse_ms").alias("parse_ms_total"),
            F.min("doc_id").alias("doc_id_min"),
            F.max("doc_id").alias("doc_id_max"),
        )
        .withColumn("finished_at", F.current_timestamp())
    )
    lineage.write.mode("append").parquet(lineage_path)

    return doc_spans(all_pages)


def cache_proportion(
    spark: SparkSession,
    docs_df: DataFrame,
    checkpoint_dir: str,
    pages_per_bucket: int = DEFAULT_PAGES_PER_BUCKET,
) -> float:
    """A8 ``cache_proportion`` (reference rasterizer.py:299-303): the
    fraction of the corpus's (doc_id, page_bucket) work units already
    present in the checkpoint table — the progress metric a resumed run
    reports before deciding how much work remains. 0.0 when no checkpoint
    exists yet; computed with one distinct + one semi-join count, no
    driver-side iteration."""
    buckets = salt_page_buckets(docs_df, pages_per_bucket).select(
        "doc_id", "page_bucket"
    )
    total = buckets.count()
    if total == 0:
        return 0.0
    try:
        done = (
            spark.read.parquet(f"{checkpoint_dir}/pages")
            .select("doc_id", "page_bucket")
            .distinct()
        )
    except Exception:
        return 0.0
    cached = buckets.join(done, ["doc_id", "page_bucket"], "left_semi").count()
    return cached / total


def spans_exploded(doc_spans_df: DataFrame) -> DataFrame:
    """(doc_id, spans) → flat rows (doc_id, seq, kind, text, media_ref, offset)."""
    return doc_spans_df.select(
        "doc_id", F.posexplode("spans").alias("seq", "span")
    ).select(
        "doc_id",
        "seq",
        F.col("span.kind").alias("kind"),
        F.col("span.text").alias("text"),
        F.col("span.media_ref").alias("media_ref"),
        F.col("span.offset").alias("offset"),
    )


# ---------------------------------------------------------------------------
# Corpus → DataFrame helpers
# ---------------------------------------------------------------------------


def corpus_df(
    spark: SparkSession,
    n_docs: int,
    seed: int = 42,
    skew_every: int = 47,
    envelope: str = None,
) -> DataFrame:
    """Materialize the deterministic corpus as the input_hint-shaped table
    (doc_id, spans) + companion (pdf, n_pages) columns."""
    from docprompt_spark.corpus import gen_corpus

    rows = [
        (
            d["doc_id"],
            bytearray(d["pdf"]),
            d["n_pages"],
            [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in d["spans"]],
        )
        for d in gen_corpus(n_docs, seed=seed, skew_every=skew_every, envelope=envelope)
    ]
    return spark.createDataFrame(rows, schema=DOCS_SCHEMA)


def corpus_df_distributed(
    spark: SparkSession,
    n_docs: int,
    seed: int = 42,
    skew_every: int = 47,
    envelope: str = None,
    parallelism: Optional[int] = None,
) -> DataFrame:
    """Corpus generated ON THE EXECUTORS (``gen_doc`` is a pure function of
    ``(idx, seed)``): the driver ships only the index range. This is the
    100 TB-corpus pattern — ``corpus_df`` above createDataFrame-ships every
    byte through the driver and is only appropriate for oracle-scale
    fixtures. Used by bench.py to materialize its cached corpus in
    parallel."""
    from docprompt_spark.shipping import ensure_py_files

    ensure_py_files(spark)
    nparts = parallelism or spark.sparkContext.defaultParallelism * 2
    idx_df = spark.range(n_docs).repartition(nparts)

    def fn(batches):
        from docprompt_spark.corpus import gen_doc

        for b in batches:
            rows = []
            for idx in b["id"]:
                d = gen_doc(
                    int(idx), seed=seed, skew_every=skew_every, envelope=envelope
                )
                rows.append(
                    {
                        "doc_id": d["doc_id"],
                        "pdf": bytes(d["pdf"]),
                        "n_pages": d["n_pages"],
                        "spans": d["spans"],
                    }
                )
            if rows:
                yield pd.DataFrame(rows)

    return idx_df.mapInPandas(fn, schema=DOCS_SCHEMA)
