"""The extraction pipeline: documents → parsed pages → ordered span sequences.

Spark shape (SURVEY.md §3.1 "Spark shape"):

    docs(doc_id, pdf, n_pages)
      → skew_route: docs of <= SKEW_PAGE_THRESHOLD pages stay narrow, as
        (doc_id, pdf) rows in the input partitioning; only the skew tail is
        exploded into page buckets of PAGES_PER_BUCKET pages (salting:
        explicit skew handling for huge docs, replacing the reference's
        greedy LPT bin-packing, reference docprompt/_pdfium.py:258-289)
        and repartitioned by (doc_id, page_bucket); a tail exists only when
        some doc is over the threshold
      → narrow: mapInPandas(parse + layout + doc assembly), one work unit
        per doc, parsed whole with one PdfFile; no post-parse shuffle
                                         # Arrow-batched, no per-row Python UDFs
      → tail, if any: mapInPandas(parse + layout) per bucket → doc_spans
        (window + groupBy)
      → (doc_id, spans array<struct<kind,text,media_ref,offset>>)

A narrow doc is one unit because everything a bucket costs beyond its
pages (re-opening the PDF, re-walking the page tree, reloading fonts) buys
nothing below the threshold, and because its pages then never depend on
n_pages: a doc whose n_pages understates its page tree still comes out
whole. The tail still trusts n_pages for its bucket count.

Whether a tail exists is decided by a probe job that runs in the JVM only
(tail.isEmpty(); on parquet it reads only n_pages). The job is worth it:
every Python task pays a fixed start-up before its UDF runs, whatever its
row count, and an empty tail mapped anyway runs one such task per
repartition slot. AQE cannot drop them: empty-relation propagation stops
at MapInPandas, and a REPARTITION_BY_NUM shuffle is never coalesced. An
input that is an uncached Python-generated frame, such as the recompress
pre-map of queries.extraction_recompressed_spans, is evaluated once more
by the probe.

Every per-page table (parse_pages, page_blocks, rasterize.page_raster_table,
multimodal.media_table) takes doc rows and maps its kernel through the same
router (_route_and_map); page_ranges turns a routed batch into page ranges,
a whole doc or a bucket. The bucket size is one constant, PAGES_PER_BUCKET,
not an option: the salting and the kernel that parses a bucket must agree
on it, and it is part of the checkpoint key. Per-page emitters stamp every
page with page_bucket = (page_number - 1) // PAGES_PER_BUCKET, so page rows
carry that key whichever side parsed them.

One parse kernel (_parse_kernel) owns the unit loop, the GC guard, the
extract_pages call and its timing, the on_error policy and the page layout,
and feeds one of three emitters: page rows (parse_pages, the skew tail, the
checkpoint path), block rows (page_blocks) or doc rows (the narrow side).

Checkpoint/resume (reference FilesystemCache + anti-join resume,
rasterizer.py:62-307): parsed page rows are appended to a parquet checkpoint
table; a re-run anti-joins narrow docs that have checkpointed pages on
doc_id, and tail buckets on (doc_id, page_bucket), and only parses the
remainder. A narrow doc's pages are written by one task, so they land
together. This path still assembles every doc through doc_spans.
Per-partition lineage rows (partition id, doc/page/span counts, wall time,
run id) are derived from the checkpointed pages.
"""

from __future__ import annotations

import gc
import time
import uuid
from typing import Iterator, Optional

import pandas as pd
from pyspark import TaskContext
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

DOC_SPANS_SCHEMA = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("spans", ArrayType(SPAN_TYPE), True),
    ]
)

# The one bucket size: the salting explode, page_ranges and the per-page
# emitters' page_bucket stamp read it, and it is part of the checkpoint key
# (doc_id, page_bucket)
PAGES_PER_BUCKET = 16
SKEW_PAGE_THRESHOLD = 4 * PAGES_PER_BUCKET


def salt_page_buckets(docs_df: DataFrame) -> DataFrame:
    """Explode each document into (doc_id, page_bucket) work units.

    A 5000-page document becomes ~312 independent tasks instead of one
    straggler — size-balanced partitions per the north rule. At 100 TB the
    ``pdf`` column would be an object-store reference; duplicating it per
    bucket here is the sandbox stand-in.
    """
    n_buckets = F.greatest(
        F.lit(1), F.ceil(F.col("n_pages") / F.lit(PAGES_PER_BUCKET))
    ).cast("int")
    return docs_df.withColumn(
        "page_bucket", F.explode(F.sequence(F.lit(0), n_buckets - F.lit(1)))
    )


def page_ranges(batch: pd.DataFrame):
    """The work units of one routed batch as (doc_id, pdf bytes, lo, hi)
    page ranges, 0-based and half-open: a narrow batch (no page_bucket
    column) holds whole documents, lo 0 and hi None; a tail batch holds
    PAGES_PER_BUCKET-page buckets."""
    if "page_bucket" not in batch:
        for doc_id, blob in zip(batch["doc_id"], batch["pdf"]):
            yield doc_id, bytes(blob), 0, None
        return
    for doc_id, blob, bucket in zip(batch["doc_id"], batch["pdf"], batch["page_bucket"]):
        lo = int(bucket) * PAGES_PER_BUCKET
        yield doc_id, bytes(blob), lo, lo + PAGES_PER_BUCKET


def _parse_kernel(on_error: str, emit):
    """The mapInPandas parse kernel over routed rows (see page_ranges).

    Each work unit's pages are parsed and laid out, then handed to
    ``emit(doc_id, pages, parse_ms, partition_id)``; ``pages`` is a list
    of (page, layout) pairs, or None for a unit that raised under
    ``on_error="skip"``. The emitter returns output rows."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from docprompt_spark import kernels, pdfparse  # import before gc off
        from docprompt_spark.shipping import pin_zip_importers

        pin_zip_importers()
        tc = TaskContext.get()
        pid = tc.partitionId() if tc is not None else -1
        # the parse kernel allocates millions of small acyclic dicts per
        # task; cyclic-GC sweeps buy nothing here (refcounting frees
        # everything) and cost ~6% — disable for the task, restore after.
        # What the task leaves is all in generation 0, so collecting that
        # generation alone is enough, and spares a sweep of the whole heap
        gc_was_enabled = gc.isenabled()
        gc.disable()
        try:
            for pdf_batch in batches:
                rows = []
                for doc_id, blob, lo, hi in page_ranges(pdf_batch):
                    t0 = time.perf_counter()
                    try:
                        pages = pdfparse.extract_pages(blob, lo, hi, with_vectors=False)
                    except Exception:
                        if on_error == "skip":
                            pages = None
                        else:
                            raise
                    ms = (time.perf_counter() - t0) * 1000.0
                    if pages is not None:
                        pages = [
                            (p, kernels.build_page_layout(p["words"])) for p in pages
                        ]
                    rows += emit(doc_id, pages, ms, pid)
                if rows:
                    yield pd.DataFrame(rows)
        finally:
            if gc_was_enabled:
                gc.enable()
            gc.collect(0)

    return fn


def _emit_pages(doc_id, pages, ms, pid):
    """PAGE_SCHEMA rows: one per parsed page, with page-local span offsets
    and the page's bucket, (page_number - 1) // PAGES_PER_BUCKET, whether
    it came from a whole doc or a bucket. A failed unit emits nothing."""
    from docprompt_spark import kernels

    return [
        {
            "doc_id": doc_id,
            "page_bucket": (p["page_number"] - 1) // PAGES_PER_BUCKET,
            "page_number": p["page_number"],
            "page_text_len": len(layout["page_text"]),
            "spans": kernels.assemble_page_spans(layout, p["images"]),
            "n_words": sum(len(ln["words"]) for ln in layout["lines"]),
            "n_lines": len(layout["lines"]),
            "n_blocks": len(layout["blocks"]),
            "n_media": len(p["images"]),
            "parse_ms": ms / len(pages),
            "partition_id": pid,
        }
        for p, layout in pages or ()
    ]


def _emit_blocks(doc_id, pages, ms, pid):
    """BLOCKS_SCHEMA rows: the TextBlock hierarchy, one row per parsed page.
    A failed unit emits nothing."""
    return [
        _layout_to_block_row(doc_id, p["page_number"], layout)
        for p, layout in pages or ()
    ]


def _emit_doc(doc_id, pages, ms, pid):
    """DOC_SPANS_SCHEMA rows for the narrow side, whose units are whole
    documents: kernels.assemble_doc_spans gives the offsets and order of
    doc_spans() without its doc_id exchange. A document that failed to
    parse, or has no pages, emits nothing."""
    from docprompt_spark import kernels

    if not pages:
        return []
    doc_pages = [
        {
            "page_number": p["page_number"],
            "page_text": layout["page_text"],
            "spans": kernels.assemble_page_spans(layout, p["images"]),
        }
        for p, layout in pages
    ]
    return [{"doc_id": doc_id, "spans": kernels.assemble_doc_spans(doc_pages)}]


def skew_route(docs_df: DataFrame, done: Optional[DataFrame] = None):
    """The one skew router: doc rows (doc_id, pdf, n_pages) → (narrow,
    tail) frames, with tail None when no doc is over SKEW_PAGE_THRESHOLD
    pages. The threshold is read at call time.

    narrow: (doc_id, pdf) rows of the docs of <= SKEW_PAGE_THRESHOLD pages
    (the overwhelming majority), in the input partitioning: at 100 TB you
    never shuffle raw document bytes. Each is one work unit, parsed whole
    with one PdfFile, so its pages never depend on n_pages.

    tail: (doc_id, pdf, page_bucket) rows, the docs over the threshold
    salted into PAGES_PER_BUCKET-page buckets (salt_page_buckets) and
    repartitioned by (doc_id, page_bucket), so a 5000-page book fans out
    across the cluster instead of pinning one task. Per-page emitters
    stamp every page with its bucket, so page rows carry the same
    (doc_id, page_bucket) key on both sides.

    ``done``, on the checkpoint path, holds the (doc_id, page_bucket)
    pairs already checkpointed: a narrow doc with any checkpointed page is
    done (one task wrote all its pages), a tail bucket only if it is.

    Whether a tail exists is decided by a probe job, tail.isEmpty(), that
    runs in the JVM only and on parquet reads only n_pages. It is worth a
    job because an empty tail mapped anyway costs one Python task per
    repartition slot, each paying the fixed Python-task start-up, which
    AQE cannot avoid (see the module docstring). An uncached
    Python-generated input is evaluated once more by the probe."""
    from docprompt_spark.shipping import ensure_py_files

    spark = docs_df.sparkSession
    ensure_py_files(spark)
    n_pages = F.col("n_pages")
    narrow = docs_df.filter(n_pages <= SKEW_PAGE_THRESHOLD).select("doc_id", "pdf")
    tail = salt_page_buckets(docs_df.filter(n_pages > SKEW_PAGE_THRESHOLD))
    tail = tail.select("doc_id", "pdf", "page_bucket")
    if done is not None:
        narrow = narrow.join(done.select("doc_id"), "doc_id", "left_anti")
        tail = tail.join(done, ["doc_id", "page_bucket"], "left_anti")
    if tail.isEmpty():
        return narrow, None
    # 4 waves of small tasks on the skew path: straggler/tail variance
    # dominates at high core counts (measured: 4x beats 2x and 8x)
    nparts = spark.sparkContext.defaultParallelism * 4
    return narrow, tail.repartition(nparts, "doc_id", "page_bucket")


def _route_and_map(docs_df: DataFrame, fn, schema, done=None) -> DataFrame:
    """Map one kernel over each side of skew_route that exists; union them."""
    narrow, tail = skew_route(docs_df, done)
    out = narrow.mapInPandas(fn, schema=schema)
    return out if tail is None else out.unionAll(tail.mapInPandas(fn, schema=schema))


def parse_pages(docs_df: DataFrame, on_error: str = "fail") -> DataFrame:
    """(doc_id, pdf, n_pages) doc rows → PAGE_SCHEMA page rows, routed by
    skew_route."""
    return _route_and_map(docs_df, _parse_kernel(on_error, _emit_pages), PAGE_SCHEMA)


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


def page_blocks(docs_df: DataFrame, on_error: str = "fail") -> DataFrame:
    """The TextBlock hierarchy as a TABLE: per page, arrays of word/line/
    block-level blocks with normalized bboxes and page-level text spans
    (start/end char offsets) — the relational form of the reference's
    OcrPageResult (tasks/ocr/result.py word/line/block_level_blocks), which
    provenance search consumes (provenance/search.py:42-82). Takes doc
    rows, routed by skew_route like parse_pages."""
    return _route_and_map(docs_df, _parse_kernel(on_error, _emit_blocks), BLOCKS_SCHEMA)


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
    on_error: str = "fail",
) -> DataFrame:
    """End-to-end extraction with optional checkpoint/resume + lineage.

    With ``checkpoint_dir``: completed work units are anti-joined away
    (exact resume, reference rasterizer.py:291-297 J4): narrow docs by
    doc_id, tail buckets by (doc_id, page_bucket). Freshly parsed pages are
    appended to ``{dir}/pages``, and per-partition lineage rows to
    ``{dir}/lineage``. Output is rebuilt from the checkpoint table, so a
    resumed run yields byte-identical spans.

    ``on_error="skip"`` drops a narrow doc that fails to parse; the skew
    tail drops only the failed buckets.
    """
    run_id = run_id or uuid.uuid4().hex[:12]

    if checkpoint_dir is None:
        # Narrow side (the overwhelming majority): parse + doc assembly in
        # ONE kernel — zero post-parse shuffle. Only the skew tail fans out
        # page buckets across the cluster and reassembles via doc_spans().
        narrow, tail = skew_route(docs_df)
        docs = narrow.mapInPandas(_parse_kernel(on_error, _emit_doc), DOC_SPANS_SCHEMA)
        if tail is None:
            return docs
        pages = tail.mapInPandas(_parse_kernel(on_error, _emit_pages), PAGE_SCHEMA)
        return docs.unionByName(doc_spans(pages))

    pages_path = f"{checkpoint_dir}/pages"
    lineage_path = f"{checkpoint_dir}/lineage"
    try:
        done = spark.read.parquet(pages_path).select("doc_id", "page_bucket").distinct()
    except Exception:  # first run: no checkpoint yet
        done = None

    new_pages = _route_and_map(
        docs_df, _parse_kernel(on_error, _emit_pages), PAGE_SCHEMA, done
    ).withColumn("run_id", F.lit(run_id))
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


def cache_proportion(spark: SparkSession, docs_df: DataFrame, checkpoint_dir: str) -> float:
    """A8 ``cache_proportion`` (reference rasterizer.py:299-303): the
    fraction of the corpus's (doc_id, page_bucket) work units already
    present in the checkpoint table — the progress metric a resumed run
    reports before deciding how much work remains. 0.0 when no checkpoint
    exists yet; computed with one distinct + one semi-join count, no
    driver-side iteration."""
    buckets = salt_page_buckets(docs_df).select("doc_id", "page_bucket")
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
) -> DataFrame:
    """Corpus generated ON THE EXECUTORS (``gen_doc`` is a pure function of
    ``(idx, seed)``): the driver ships only the index range. This is the
    100 TB-corpus pattern — ``corpus_df`` above createDataFrame-ships every
    byte through the driver and is only appropriate for oracle-scale
    fixtures. Used by bench.py to materialize its cached corpus in
    parallel."""
    from docprompt_spark.corpus import gen_doc
    from docprompt_spark.shipping import map_rows

    nparts = spark.sparkContext.defaultParallelism * 2
    idx_df = spark.range(n_docs).repartition(nparts)

    def rows_of(idx):
        d = gen_doc(int(idx), seed=seed, skew_every=skew_every, envelope=envelope)
        yield (d["doc_id"], bytes(d["pdf"]), d["n_pages"], d["spans"])

    return map_rows(idx_df, rows_of, DOCS_SCHEMA)
