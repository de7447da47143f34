"""Ship-shape checks: the job runs via real `spark-submit --py-files` with the
zip built by jobs/make_package.py — executors import docprompt_spark from the
archive, not from the repo checkout (north rule packaging requirement) — and
a session started outside the repo ships the package itself before its first
Python kernel."""

import os
import subprocess
import sys
import textwrap

import pyspark.sql.functions as F
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_spark_submit_py_files(spark, tmp_path):
    from docprompt_spark import pipeline

    # input table written by the test's session
    docs = pipeline.corpus_df(spark, 8, seed=31, skew_every=0)
    in_dir = str(tmp_path / "docs_in")
    docs.select("doc_id", "pdf", "n_pages").write.parquet(in_dir)
    golden = {
        r["doc_id"]: [tuple(s) for s in r["spans"]]
        for r in docs.select("doc_id", "spans").collect()
    }

    sys.path.insert(0, os.path.join(REPO, "jobs"))
    import make_package

    zip_path = make_package.build(str(tmp_path / "docprompt_spark.zip"))

    out_dir = str(tmp_path / "spans_out")
    spark_submit = os.path.join(os.path.dirname(sys.executable), "spark-submit")
    if not os.path.exists(spark_submit):
        spark_submit = "spark-submit"
    env = dict(os.environ)
    env.pop("PYTHONPATH", None)  # the zip must be self-sufficient
    proc = subprocess.run(
        [
            spark_submit,
            "--master",
            "local[4]",
            "--py-files",
            zip_path,
            os.path.join(REPO, "jobs", "extract_job.py"),
            "--input",
            in_dir,
            "--output",
            out_dir,
            "--shuffle-partitions",
            "8",
        ],
        capture_output=True,
        text=True,
        timeout=420,
        cwd=str(tmp_path),  # not the repo: forces imports from the zip
        env=env,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]

    result = spark.read.parquet(out_dir)
    got = {
        r["doc_id"]: [tuple(s) for s in r["spans"]]
        for r in result.collect()
    }
    assert got == golden


# Each case's body runs in a fresh session as its FIRST Python kernel and
# prints the row count it got.
_FIRST_KERNEL_CASES = {
    "page_labels": (
        """
        import __spark_entry__ as e
        print(e.queries()["page_labels"](spark, "").count())
        """,
        22,
    ),
    "image_features": (
        """
        from docprompt_spark import multimodal
        media = spark.createDataFrame(
            [("m0", bytearray(range(12)), 4, 3, "gray8", None)],
            "media_ref string, payload binary, width int, height int,"
            " codec string, palette binary",
        )
        print(multimodal.image_features(media).count())
        """,
        1,
    ),
    "write_sidecars_df": (
        """
        from docprompt_spark import pipeline, storage
        docs = pipeline.corpus_df(spark, 2, seed=23, skew_every=0)
        print(storage.write_sidecars_df(docs, "sidecars").count())
        """,
        2,
    ),
}


@pytest.mark.parametrize("case", sorted(_FIRST_KERNEL_CASES))
def test_first_python_kernel_ships_package(tmp_path, case):
    """A session whose workers start outside the repo, with PYTHONPATH
    unset, can import docprompt_spark only from the zip the package ships
    itself; a kernel that skips shipping fails with ModuleNotFoundError."""
    body, want = _FIRST_KERNEL_CASES[case]
    script = (
        f"import sys\nsys.path.insert(0, {REPO!r})\n"
        "from docprompt_spark.session import get_spark\n"
        "spark = get_spark(master='local[2]', shuffle_partitions=2)\n"
        + textwrap.dedent(body)
    )
    env = dict(os.environ)
    env.pop("PYTHONPATH", None)
    proc = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True,
        text=True,
        timeout=300,
        cwd=str(tmp_path),
        env=env,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert proc.stdout.split()[-1] == str(want)


_PIN_SCRIPT = """
import os, sys, zipfile, zipimport
sys.path.insert(0, {repo!r})
from docprompt_spark import shipping
from docprompt_spark.session import get_spark
spark = get_spark(master="local[2]", shuffle_partitions=2)


def importers(i):
    # runs after map_rows' own prologue: a second call must keep every
    # importer object, and no plain zipimporter may be left
    from docprompt_spark import shipping
    before = dict(sys.path_importer_cache)
    shipping.pin_zip_importers()
    same = all(sys.path_importer_cache.get(k) is v for k, v in before.items())
    pinned = sum(isinstance(v, shipping._PinnedZipImporter) for v in before.values())
    plain = sum(type(v) is zipimport.zipimporter for v in before.values())
    yield (os.getpid(), pinned, plain, same)


def run(rows_of, schema):
    df = spark.range(4, numPartitions=2)
    return shipping.map_rows(df, rows_of, schema).collect()


first = run(importers, "pid int, pinned int, plain int, same boolean")
print("pin", all(r.pinned >= 1 and r.plain == 0 and r.same for r in first))

extra = os.path.join(os.getcwd(), "extra_v2.zip")
with zipfile.ZipFile(extra, "w") as zf:
    zf.writestr("pin_probe_mod.py", "VALUE = 42\\n")
spark.sparkContext.addPyFile(extra)


def probe(i):
    import pin_probe_mod
    yield (os.getpid(), pin_probe_mod.VALUE)


second = run(probe, "pid int, value int")
print("import", all(r.value == 42 for r in second))
print("reused", bool({{r.pid for r in first}} & {{r.pid for r in second}}))
"""


def test_pinned_worker_imports_newly_shipped_zip(tmp_path):
    """The worker prologue pins each zipimporter's directory, so PySpark's
    per-task importlib.invalidate_caches() no longer re-reads every
    archive. A zip shipped later arrives under a new path: a worker that
    is already pinned must still import a module from it. The prologue is
    idempotent: a second call leaves the same importer objects."""
    env = dict(os.environ)
    env.pop("PYTHONPATH", None)
    proc = subprocess.run(
        [sys.executable, "-c", _PIN_SCRIPT.format(repo=REPO)],
        capture_output=True,
        text=True,
        timeout=300,
        cwd=str(tmp_path),
        env=env,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.splitlines()
    for want in ("pin True", "import True", "reused True"):
        assert want in lines, proc.stdout
