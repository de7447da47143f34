"""Per-layer probes that run outside the measured loop of a traced run.

``serial_pass`` times the public ``pdfparse`` and ``kernels`` calls one
document at a time in this process, the way the parse kernel calls them
inside a Spark task (cyclic GC off, vector paths skipped).
``arrow_identity_s`` times the Arrow boundary alone: an identity
``mapInPandas`` over the same ``(doc_id, pdf, page_bucket)`` rows the parse
kernel receives.
"""

from __future__ import annotations

import gc
import statistics
import time


def serial_pass(blobs: list) -> dict:
    """One pass over ``blobs``; per-layer times are ms per document."""
    from docprompt_spark import kernels, pdfparse

    parts = dict.fromkeys(("unwrap", "open", "extract_page", "layout", "spans"), 0.0)
    wall = 0.0
    clock = time.perf_counter
    gc_was_enabled = gc.isenabled()
    gc.disable()
    try:
        for blob in blobs:
            t0 = clock()
            pdfparse.unwrap_pdf_bytes(blob)
            parts["unwrap"] += clock() - t0
            start = t0 = clock()
            pf = pdfparse.PdfFile(blob)
            parts["open"] += clock() - t0
            for i in range(pf.page_count):
                t0 = clock()
                page = pf.extract_page(i, with_vectors=False)
                t1 = clock()
                layout = kernels.build_page_layout(page["words"])
                t2 = clock()
                kernels.assemble_page_spans(layout, page["images"])
                t3 = clock()
                parts["extract_page"] += t1 - t0
                parts["layout"] += t2 - t1
                parts["spans"] += t3 - t2
            wall += clock() - start
    finally:
        if gc_was_enabled:
            gc.enable()
        gc.collect()
    n = len(blobs)
    out = {f"{k}_ms": v * 1000.0 / n for k, v in parts.items()}
    summed = sum(v for k, v in parts.items() if k != "unwrap")
    out.update(docs_per_s=n / wall, sum_vs_wall=summed / wall)
    return out


def serial_layers(blobs: list, passes: int = 3) -> dict:
    """Median of ``passes`` serial passes, plus the spread of
    ``docs_per_s`` between them as a share of its median."""
    runs = [serial_pass(blobs) for _ in range(passes)]
    med = {k: statistics.median(r[k] for r in runs) for k in runs[0]}
    rates = [r["docs_per_s"] for r in runs]
    med["pass_spread"] = (max(rates) - min(rates)) / med["docs_per_s"]
    return med


def arrow_identity_s(spark, docs, reps: int = 3) -> float:
    """Median wall of an identity ``mapInPandas`` over the parse kernel's
    input rows, consumed by an aggregate that reads every ``pdf`` byte."""
    from docprompt_spark import pipeline

    rows = pipeline.salt_page_buckets(docs).select("doc_id", "pdf", "page_bucket")

    def identity(batches):
        yield from batches

    probe = rows.mapInPandas(identity, schema=rows.schema)
    walls = []
    for _ in range(reps):
        t0 = time.perf_counter()
        probe.selectExpr("count(*)", "sum(length(pdf))").first()
        walls.append(time.perf_counter() - t0)
    return statistics.median(walls)
