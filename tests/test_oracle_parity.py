"""Driver-equivalent correctness gate: every queries() entry compared against
its DuckDB oracle at sf0.01 — row count, column names, and exact sorted
values (stricter than the driver's order-insensitive value hash)."""

import math
import os

import duckdb
import pandas as pd
import pytest

from tests.conftest import query_params

SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.01")

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def _duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    return con


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def _assert_frames_equal(spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame, name: str):
    assert len(spark_pdf) == len(duck_pdf), (
        f"{name}: row count {len(spark_pdf)} != {len(duck_pdf)}"
    )
    assert sorted(spark_pdf.columns) == sorted(duck_pdf.columns), (
        f"{name}: columns {sorted(spark_pdf.columns)} != {sorted(duck_pdf.columns)}"
    )
    a, b = _canon(spark_pdf), _canon(duck_pdf)
    for col in a.columns:
        av, bv = a[col].tolist(), b[col].tolist()
        for i, (x, y) in enumerate(zip(av, bv)):
            if isinstance(x, float) and isinstance(y, float):
                if math.isnan(x) and math.isnan(y):
                    continue
                assert x == y, f"{name}.{col}[{i}]: {x!r} != {y!r}"
            else:
                assert str(x) == str(y), f"{name}.{col}[{i}]: {x!r} != {y!r}"


def _all_query_names():
    import __spark_entry__ as entrymod

    return query_params(sorted(entrymod.queries()))


@pytest.fixture(scope="module")
def duck():
    con = _duck()
    yield con
    con.close()


def _assert_types_match(df, rel, name: str):
    """Each output column's Spark type maps to the DuckDB relation type of
    the oracle's column of the same position and name. pandas and str()
    equate INTEGER with BIGINT; the relation types do not, and neither does
    a type-aware hash of the oracle's rows."""
    from docprompt_spark import queries as q

    got = [(f.name, q._DUCK_TYPES[f.dataType.simpleString()]) for f in df.schema]
    assert got == list(zip(rel.columns, map(str, rel.types))), name


# text_quality_scores.n_tok is INTEGER in Spark and BIGINT in its oracle.
# perfbench pins the query's fingerprint, which hashes the INTEGER column,
# so the cast waits for a change to the benchmark.
_TYPE_DRIFT = ["text_quality_scores"]


@pytest.mark.parametrize("name", _all_query_names())
def test_query_matches_oracle(spark, duck, name):
    import __spark_entry__ as entrymod

    fn = entrymod.queries()[name]
    sql = entrymod.oracle_sql()[name]
    df = fn(spark, SF_DIR)
    spark_pdf = df.toPandas()
    duck_pdf = duck.execute(sql).df()
    _assert_frames_equal(spark_pdf, duck_pdf, name)
    if name not in _TYPE_DRIFT:
        _assert_types_match(df, duck.sql(sql), name)


@pytest.mark.xfail(strict=True, reason="n_tok is INTEGER; perfbench pins its fingerprint")
@pytest.mark.parametrize("name", _TYPE_DRIFT)
def test_output_types_that_still_drift_from_oracle(spark, duck, name):
    from docprompt_spark import queries as q

    fn, oracle = q.registry()[name]
    _assert_types_match(fn(spark, SF_DIR), duck.sql(oracle), name)


# The near-dup queries keep a check of their own, by name, so that their
# types stay pinned even if one joins _TYPE_DRIFT.
_NEAR_DUP = [
    "minhash_lsh_neardup_pairs",
    "simhash_neardup_pairs",
    "simhash_signatures",
    "dedup_connected_components",
]


@pytest.mark.parametrize("name", _NEAR_DUP)
def test_near_dup_output_types_match_oracle(spark, duck, name):
    from docprompt_spark import queries as q

    fn, oracle = q.registry()[name]
    _assert_types_match(fn(spark, SF_DIR), duck.sql(oracle), name)


def test_every_query_has_an_oracle():
    """Round-2 close: the rows-only set is EMPTY — every registry query has
    a DuckDB-checkable oracle. Guard against regressions."""
    import __spark_entry__ as entrymod
    from docprompt_spark import queries as q

    reg = q.registry()
    rows_only = [n for n in entrymod.queries() if reg[n][1] is None]
    assert rows_only == [], rows_only


def test_values_sql_renders_literals_exactly():
    """The VALUES builder every generated oracle uses: quotes, NULL,
    booleans, floats that must round-trip bit-exactly, a reserved-word
    column name, and one DuckDB type per declared Spark type."""
    from docprompt_spark import queries as q

    rows = [
        ("it's", None, True, 0.1, 7, 2**40),
        (None, "x", False, 1e-05, -3, None),
        ("''", "", None, 169.515625, 0, 1),
    ]
    sql = q._values_sql(
        "s string, offset string, b boolean, d double, i int, n bigint", rows
    )
    con = duckdb.connect()
    rel = con.sql(sql)
    assert rel.columns == ["s", "offset", "b", "d", "i", "n"]
    assert [str(t) for t in rel.types] == [
        "VARCHAR", "VARCHAR", "BOOLEAN", "DOUBLE", "INTEGER", "BIGINT"
    ]
    got = rel.fetchall()
    assert got == rows
    assert [type(r[3]) for r in got] == [float] * 3
    assert [r[2] for r in got] == [True, False, None]


def test_query_rejects_a_missing_oracle():
    from docprompt_spark import queries as q

    with pytest.raises(TypeError):
        q.query("no_oracle", None)
    assert "no_oracle" not in q.registry()


def test_missing_oracle_input_leaves_out_only_its_query(monkeypatch, capsys, tmp_path):
    """An oracle whose input file is missing drops its own query from
    ``oracle_sql()``, names the file on stderr, and hides nothing else."""
    from docprompt_spark import queries as q

    name = "line_block_word_assignment"
    missing = str(tmp_path / "absent" / "1_ocr.json")
    monkeypatch.setattr(q, "_FIXTURE_OCR", missing)
    monkeypatch.delitem(q._ORACLE_SQL_CACHE, name, raising=False)
    oracles = q.oracle_sql()
    assert list(oracles) == [n for n in q.queries() if n != name]
    assert all(isinstance(sql, str) and sql for sql in oracles.values())
    err = capsys.readouterr().err
    assert name in err and missing in err


def test_other_oracle_errors_propagate(monkeypatch):
    from docprompt_spark import queries as q

    def boom():
        raise ValueError("corrupt fixture")

    monkeypatch.setattr(q, "_fixture_blocks", boom)
    monkeypatch.delitem(
        q._ORACLE_SQL_CACHE, "line_block_word_assignment", raising=False
    )
    with pytest.raises(ValueError, match="corrupt fixture"):
        q.oracle_sql()


def _write_ocr_fixture(path):
    """A small page-1 OCR fixture in the reference's 1_ocr.json shape: 10
    words, 4 lines. Word 4 overlaps lines 1 and 2 by the same height (tie:
    the lower line index wins), line 3 has confidence 0.2 (< 0.3, dropped)
    and word 9 overlaps no kept line."""
    import json

    def box(top, bottom):
        return {"bounding_box": {"top": top, "bottom": bottom}}

    # coordinates in 1/32 page units, so equal overlaps are exactly equal
    words = [(3, 5), (4, 6), (3, 6), (10, 12), (13, 15), (15, 17), (16, 18),
             (15, 18), (20, 22), (26, 28)]
    lines = [(3, 6, 0.95), (10, 14, 0.9), (14, 18, 0.85), (26, 28, 0.2)]
    page = {
        "word_level_blocks": [box(t / 32, b / 32) for t, b in words],
        "line_level_blocks": [
            dict(box(t / 32, b / 32), metadata={"confidence": c})
            for t, b, c in lines
        ],
    }
    path.write_text(json.dumps({"1": page}))


def test_line_block_assignment_on_synthetic_fixture(spark, monkeypatch, tmp_path):
    """J1 stays checked without the reference checkout: the query against
    its own oracle over a synthetic fixture, plus the broadcast line side."""
    from docprompt_spark import queries as q

    fixture = tmp_path / "1_ocr.json"
    _write_ocr_fixture(fixture)
    monkeypatch.setattr(q, "_FIXTURE_OCR", str(fixture))
    fn, oracle = q.registry()["line_block_word_assignment"]
    df = fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    spark_pdf = df.toPandas()
    con = duckdb.connect()
    duck_pdf = con.execute(oracle()).df()
    _assert_frames_equal(spark_pdf, duck_pdf, "line_block_word_assignment")
    _assert_types_match(df, con.sql(oracle()), "line_block_word_assignment")
    got = sorted(zip(spark_pdf.l_idx, spark_pdf.n_words, spark_pdf.first_word))
    # line 0: words 0-2; line 1: words 3-4 (4 ties with line 2); line 2:
    # words 5-7; word 8 overlaps no line, word 9 only the dropped line 3
    assert got == [(0, 3, 0), (1, 2, 3), (2, 3, 5)]


def test_entry_smoke(spark):
    import __spark_entry__ as entrymod

    df = entrymod.entry(spark)
    assert df.count() > 0
