"""Self-shipping: make `docprompt_spark` importable on executors no matter
how the driver obtained its SparkSession.

The grading driver (and any real user) may construct a SparkSession from a
working directory that is not this repo; executor Python workers then can't
import the package (driver-side sys.path edits don't propagate). Python
kernels enter Spark only through :func:`map_rows` (per-row kernels) or
``pipeline.skew_route`` (the parse, render and media kernels), and each calls
:func:`ensure_py_files` first — it zips the package once (content-addressed
under /tmp) and `sc.addPyFile`s it, which is also exactly what
`spark-submit --py-files dist/docprompt_spark.zip` does for cluster
deployment (jobs/make_package.py).

Every Python kernel also starts with the worker prologue
:func:`pin_zip_importers`. PySpark calls ``importlib.invalidate_caches()``
before each task, and on Python 3.11 that makes every zipimporter on the
worker's ``sys.path`` re-read its archive's directory: the package zip,
pyspark.zip, py4j, the spark-core jar (~5k entries) and the stdlib zip.
That is most of the fixed cost of a Python task. The prologue swaps each
plain zipimporter for one whose ``invalidate_caches`` does nothing, so
only a worker's first task pays it. That is safe because an archive does
not change while a worker lives, and a re-shipped package arrives under a
new path, which gets a fresh importer of its own."""

from __future__ import annotations

import hashlib
import os
import sys
import zipfile
import zipimport

_PKG_DIR = os.path.dirname(os.path.abspath(__file__))
_SHIPPED: set = set()


def _pkg_digest() -> str:
    h = hashlib.md5()
    for root, _dirs, files in os.walk(_PKG_DIR):
        if "__pycache__" in root:
            continue
        for fn in sorted(files):
            if not fn.endswith(".py"):
                continue
            with open(os.path.join(root, fn), "rb") as f:
                h.update(fn.encode())
                h.update(f.read())
    return h.hexdigest()[:12]


def build_zip() -> str:
    path = f"/tmp/docprompt_spark_pyfiles_{_pkg_digest()}.zip"
    if not os.path.exists(path):
        tmp = path + ".tmp"
        with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as zf:
            for root, _dirs, files in os.walk(_PKG_DIR):
                if "__pycache__" in root:
                    continue
                for fn in sorted(files):
                    if not fn.endswith(".py"):
                        continue
                    full = os.path.join(root, fn)
                    rel = os.path.join(
                        "docprompt_spark", os.path.relpath(full, _PKG_DIR)
                    )
                    zf.write(full, rel)
        os.replace(tmp, path)
    return path


def ensure_py_files(spark) -> None:
    sc = spark.sparkContext
    key = (id(sc), sc.applicationId)
    if key in _SHIPPED:
        return
    try:
        sc.addPyFile(build_zip())
    except Exception:
        # already registered under this name (e.g. launched via
        # spark-submit --py-files) — workers can import either way
        pass
    _SHIPPED.add(key)


class _PinnedZipImporter(zipimport.zipimporter):
    """A zipimporter that keeps the archive directory it has read."""

    def invalidate_caches(self):
        pass


def pin_zip_importers() -> None:
    """The worker prologue: pin every plain zipimporter in
    ``sys.path_importer_cache`` (see the module docstring). Idempotent; a
    new importer reads the directory its predecessor left cached."""
    cache = sys.path_importer_cache
    for path, finder in list(cache.items()):
        if type(finder) is zipimport.zipimporter:
            cache[path] = _PinnedZipImporter(path)


def map_rows(df, rows_of, schema):
    """The per-row Python kernel: ship the package, then map every row of
    ``df`` through ``rows_of(*values)``, values in ``df``'s column order,
    as one Arrow-batched mapInPandas. ``rows_of`` yields output tuples in
    ``schema``'s column order: each batch becomes ``pd.DataFrame(rows)``,
    whose integer column labels PySpark assigns to ``schema`` by position.
    A batch that yields no rows yields no frame."""
    ensure_py_files(df.sparkSession)
    cols = df.columns

    def fn(batches):
        import pandas as pd

        pin_zip_importers()
        for b in batches:
            rows = [r for vals in zip(*(b[c] for c in cols)) for r in rows_of(*vals)]
            if rows:
                yield pd.DataFrame(rows)

    return df.mapInPandas(fn, schema=schema)
