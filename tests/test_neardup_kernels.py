"""The near-dup signature kernels against the Spark column expressions
they replaced, kept here as the reference: the same shingles, band keys
and SimHash values, bit for bit, on every sf0.01 document and on edge
texts; and each near-dup query runs its kernel once per document."""

import pyspark.sql.functions as F
import pytest

from docprompt_spark import queries as q
from docprompt_spark.shipping import map_rows
from tests.test_oracle_parity import SF_DIR

EDGE_TEXTS = [
    "  leading and trailing spaces  ",
    "double  spaced  words  here",
    "two tokens",
    "solo",
    "",
    None,
    "   ",
    "x y z x y z x y z x y",  # repeated trigrams
    "naïve café über 東京 タワー 😀 ok",  # hashed as UTF-8
    "tab\tinside a\nnewline token",
]


def _docs(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id", "text")
    edge = spark.createDataFrame(
        [(-1 - i, t) for i, t in enumerate(EDGE_TEXTS)], "doc_id long, text string"
    )
    return docs.unionByName(edge)


def _ref_minhash(df):
    """The former JVM-side signature: trigram explode, one md5 per shingle,
    64 Kirsch-Mitzenmacher minhashes in a 64-column groupBy, and the md5 of
    each band's ':'-joined minhashes."""
    p61 = 2305843009213693951
    tri = q._tri_shingles(df)
    hashed = tri.select(
        "doc_id",
        F.conv(F.substring(F.md5("shingle"), 1, 15), 16, 10).cast("long").alias("h1"),
        F.conv(F.substring(F.md5("shingle"), 17, 14), 16, 10).cast("long").alias("h2"),
    )
    mh = hashed.groupBy("doc_id").agg(
        *[
            F.min((F.col("h1") + F.lit(i) * F.col("h2")) % F.lit(p61)).alias(f"mh{i}")
            for i in range(64)
        ]
    )
    keys = [
        F.md5(F.concat_ws(":", *[F.col(f"mh{4 * b + r}") for r in range(4)]))
        for b in range(16)
    ]
    sets = tri.groupBy("doc_id").agg(F.collect_list("shingle").alias("shingles"))
    return mh.select("doc_id", F.array(*keys).alias("band_keys")).join(sets, "doc_id")


def _ref_simhash(df, bits=60):
    """The former JVM-side SimHash: token explode, 60 signed bit sums in one
    groupBy, and the bits recombined."""
    toks = df.select(
        "doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("tok")
    ).filter(F.col("tok") != "")
    h = toks.withColumn("h", q._h60(F.col("tok"), salt="sim:"))
    sums = h.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), k).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"s{k}")
            for k in range(bits)
        ]
    )
    sim = None
    for k in range(bits):
        term = F.when(F.col(f"s{k}") > 0, F.lit(1 << k)).otherwise(F.lit(0))
        sim = term if sim is None else sim + term
    return sums.select("doc_id", sim.cast("long").alias("simhash"))


@pytest.fixture(scope="module")
def docs(spark):
    return _docs(spark).localCheckpoint()


def test_minhash_kernel_matches_spark_expressions(docs):
    """The kernel's band keys, and the shingle arrays the verification
    joins read (``_shingle_sets``), against the former expressions."""
    got = dict(map_rows(docs, q._minhash_rows, q._MINHASH_COLS).collect())
    sets = dict(q._shingle_sets(docs).collect())
    want = {r.doc_id: (r.shingles, r.band_keys) for r in _ref_minhash(docs).collect()}
    assert docs.count() == 500 + len(EDGE_TEXTS)
    assert set(got) == set(want)
    # fewer than 3 tokens, empty and None text give no row
    assert sorted(i for i in got if i < 0) == [-10, -9, -8, -2, -1]
    assert {i for i, sh in sets.items() if sh} == set(want)
    for doc_id, (shingles, keys) in want.items():
        assert got[doc_id] == keys, doc_id
        assert len(set(sets[doc_id])) == len(sets[doc_id]), doc_id
        assert sorted(sets[doc_id]) == sorted(shingles), doc_id
    assert sets[-8] == ["x y z", "y z x", "z x y"]


def test_simhash_kernel_matches_spark_expressions(docs):
    got = dict(map_rows(docs, q._simhash_rows, q._SIMHASH_COLS).collect())
    want = dict(_ref_simhash(docs).collect())
    assert got == want
    assert sorted(i for i in got if i < 0) == [-10, -9, -8, -4, -3, -2, -1]


@pytest.mark.parametrize(
    "name,kernel",
    [
        ("minhash_lsh_neardup_pairs", "_minhash_rows"),
        ("simhash_neardup_pairs", "_simhash_rows"),
    ],
)
def test_near_dup_query_runs_its_kernel_once(spark, monkeypatch, name, kernel):
    """Every kernel call adds 1 to an accumulator: after the query's
    action, the count is the number of input documents, so no branch of
    the plan evaluates the kernel a second time."""
    calls = spark.sparkContext.accumulator(0)
    inner = getattr(q, kernel)

    def counted(doc_id, text):
        calls.add(1)
        yield from inner(doc_id, text)

    monkeypatch.setattr(q, kernel, counted)
    q.registry()[name][0](spark, SF_DIR).collect()
    assert calls.value == q._aug_near(spark, SF_DIR).count()
