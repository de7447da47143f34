"""Hash-addressed sidecar storage (S8/S9): the reference's
FileSystemManager / FileSidecarsPathManager (docprompt/storage.py:18-235)
re-expressed for a cluster.

Layout parity — one directory per document, keyed by content hash, with
the same three sidecar members the reference writes:

    {base}/{file_hash}/base.pdf      — raw (or gzip) document bytes
    {base}/{file_hash}/base.json     — document metadata
    {base}/{file_hash}/pages.json    — per-page metadata

The reference wraps fsspec for driver-side CRUD; at 10^12 documents the
writes must happen ON THE EXECUTORS, so the distributed form
(:func:`write_sidecars_df`) runs the same layout inside a
``shipping.map_rows`` kernel — no bytes ever pass through the driver — while
the scalar helpers stay byte-compatible for single-document use and for
reading any sidecar the distributed writer produced.

Spark note: sidecars are the POINT-LOOKUP surface (fetch one document's
artifacts by hash); the scan/analytics surface is the snapshot table
(:mod:`docprompt_spark.table`). Real deployments keep both, which is why
this module exists alongside the parquet pipeline instead of replacing
it.
"""

from __future__ import annotations

import gzip
import hashlib
import json
import os
import shutil
from typing import Any, Dict, Optional, Tuple

from pyspark.sql import DataFrame


def file_hash_of(pdf_bytes: bytes) -> str:
    """Content hash keying the sidecar directory (md5 hex — the same key
    the pipeline uses for media_ref addressing)."""
    return hashlib.md5(pdf_bytes).hexdigest()


def sidecar_paths(base_path: str, file_hash: str) -> Dict[str, str]:
    """The reference's FileSidecarsPathManager layout (storage.py:18-49)."""
    d = os.path.join(base_path, file_hash)
    return {
        "pdf": os.path.join(d, "base.pdf"),
        "metadata": os.path.join(d, "base.json"),
        "page_metadata": os.path.join(d, "pages.json"),
    }


def write_sidecar(
    base_path: str,
    pdf_bytes: bytes,
    metadata: Optional[dict] = None,
    page_metadata: Optional[list] = None,
    compress: bool = False,
) -> Dict[str, str]:
    """Write one document's sidecar set; returns its paths. ``compress``
    gzips the pdf member (mtime pinned: byte-deterministic), matching the
    reference writer's option; readers sniff the magic so either form
    round-trips."""
    fh = file_hash_of(pdf_bytes)
    paths = sidecar_paths(base_path, fh)
    os.makedirs(os.path.dirname(paths["pdf"]), exist_ok=True)
    if compress:
        # compression is marked by NAME (base.pdf.gz), never sniffed:
        # document bytes may legitimately BE a gzip envelope (the
        # corpus's idx%4 wrappers), and a content sniff would strip it
        with open(paths["pdf"] + ".gz", "wb") as f:
            f.write(gzip.compress(pdf_bytes, 5, mtime=0))
    else:
        with open(paths["pdf"], "wb") as f:
            f.write(pdf_bytes)
    if metadata is not None:
        with open(paths["metadata"], "w") as f:
            json.dump(metadata, f, sort_keys=True)
    if page_metadata is not None:
        with open(paths["page_metadata"], "w") as f:
            json.dump(page_metadata, f, sort_keys=True)
    return paths


def read_sidecar(
    base_path: str, file_hash: str
) -> Tuple[bytes, Optional[dict], Optional[Any]]:
    """(pdf bytes, metadata, page metadata) for one hash; a ``.gz``-named
    member decompresses, raw bytes return verbatim."""
    paths = sidecar_paths(base_path, file_hash)
    if os.path.exists(paths["pdf"] + ".gz"):
        with open(paths["pdf"] + ".gz", "rb") as f:
            pdf = gzip.decompress(f.read())
    else:
        with open(paths["pdf"], "rb") as f:
            pdf = f.read()
    meta = pages = None
    if os.path.exists(paths["metadata"]):
        meta = json.load(open(paths["metadata"]))
    if os.path.exists(paths["page_metadata"]):
        pages = json.load(open(paths["page_metadata"]))
    return pdf, meta, pages


def delete_sidecar(base_path: str, file_hash: str) -> bool:
    """Remove one document's sidecar directory (reference _delete)."""
    d = os.path.join(base_path, file_hash)
    if os.path.isdir(d):
        shutil.rmtree(d)
        return True
    return False


def write_sidecars_df(docs_df: DataFrame, base_path: str) -> DataFrame:
    """Distributed sidecar writer: every partition writes its own rows'
    sidecars directly (executor-side I/O, driver sees only the manifest).
    ``docs_df`` needs ``doc_id`` and ``pdf`` columns; ``n_pages`` (when
    present) lands in the metadata member. Returns a small manifest
    DataFrame (doc_id, file_hash) — the join key back into the analytic
    tables."""
    from pyspark.sql.types import StringType, StructField, StructType

    from docprompt_spark.shipping import map_rows

    schema = StructType(
        [
            StructField("doc_id", StringType(), False),
            StructField("file_hash", StringType(), False),
        ]
    )
    cols = [c for c in ("doc_id", "pdf", "n_pages") if c in docs_df.columns]

    def rows_of(doc_id, pdf, n_pages=None):
        meta = {"doc_id": str(doc_id)}
        if n_pages is not None:
            meta["n_pages"] = int(n_pages)
        pdf = bytes(pdf)
        write_sidecar(base_path, pdf, metadata=meta)
        yield (str(doc_id), file_hash_of(pdf))

    return map_rows(docs_df.select(*cols), rows_of, schema)
