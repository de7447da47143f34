"""Physical-plan assertions: the optimizations we rely on at 100 TB must
actually appear in the executed plans (pushdown, broadcast, partial agg,
whole-stage codegen)."""

import os
import time

import pyspark.sql.functions as F
import pytest

from docprompt_spark import multimodal, pipeline, rasterize
from docprompt_spark import queries as _queries
from tests.conftest import needs_ref_ocr, query_params

SF_DIR = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_and_projection_pushdown(spark):
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    q = li.filter(F.col("l_shipdate") <= "1998-09-02").select(
        "l_returnflag", "l_quantity"
    )
    plan = _plan(q)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # column pruning: scan schema contains only the 3 referenced columns
    import re

    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    cols = {c.split(":")[0] for c in m.group(1).split(",")}
    assert cols == {"l_returnflag", "l_quantity", "l_shipdate"}


def test_q5_uses_broadcast_joins(spark):
    from docprompt_spark import queries as q

    df = q.registry()["q5_supplier_volume_by_nation"][0](spark, SF_DIR)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan  # dims must not shuffle the fact table


def test_q1_partial_aggregation(spark):
    from docprompt_spark import queries as q

    df = q.registry()["q1_pricing_summary"][0](spark, SF_DIR)
    plan = _plan(df)
    # two-phase agg: map-side partial_ before the exchange
    assert "partial_" in plan
    assert "HashAggregate" in plan  # hash-based, codegen-eligible (not sort agg)


def _map_count(plan: str) -> int:
    return sum("MapInPandas" in ln for ln in plan.splitlines())


def test_extraction_no_tail_maps_only_narrow_side(spark):
    """No doc is over the skew threshold, so skew_route returns no tail:
    the plan is the narrow doc kernel alone, with no exchange anywhere and
    no salting explode (Generate): narrow docs are mapped as doc rows."""
    from docprompt_spark import pipeline

    docs = pipeline.corpus_df(spark, 3, seed=5, skew_every=0)
    result = pipeline.run_extraction(spark, docs.select("doc_id", "pdf", "n_pages"))
    plan = _plan(result)
    assert _map_count(plan) == 1, plan
    assert "spans#" in plan and "page_text_len#" not in plan, plan
    assert "Exchange" not in plan, plan
    assert "Generate" not in plan, plan
    assert "BatchEvalPython" not in plan


def test_small_corpus_reads_one_scan_split_per_file(spark, tmp_path):
    """get_spark's split rule: a small parquet corpus of one-row-group
    files reads as one scan partition per file, even with more files than
    slots, where the default rule packs several files into one split. The
    parse stage then gets one task per file."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from docprompt_spark.corpus import gen_corpus

    n_files = 2 * spark.sparkContext.defaultParallelism
    path = tmp_path / "docs"
    path.mkdir()
    for i, d in enumerate(gen_corpus(n_files, seed=5, skew_every=0)):
        row = {"doc_id": [d["doc_id"]], "pdf": [bytes(d["pdf"])], "n_pages": [d["n_pages"]]}
        pq.write_table(pa.table(row), str(path / f"part-{i:05d}.parquet"))
    assert all(pq.ParquetFile(str(f)).num_row_groups == 1 for f in path.iterdir())
    scan = spark.read.parquet(str(path))
    assert scan.rdd.getNumPartitions() == n_files


def test_spread_decides_by_size_not_split_count(spark, tmp_path):
    """queries._spread round-robins a documents table whose rows sit in
    one scan split. A file of one row group just over defaultParallelism MB
    reads as at least defaultParallelism splits under get_spark's split
    rule, but only one of them holds rows, so the split count must not
    decide. A table estimated at defaultParallelism full splits or more is
    left as it is."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    dp = spark.sparkContext.defaultParallelism
    n = (dp + 2) * 1024  # 1 KB of incompressible text per row
    rng = np.random.default_rng(0)
    path = str(tmp_path / "documents.parquet")
    table = pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": [rng.bytes(512).hex() for _ in range(n)],
    })
    pq.write_table(table, path, row_group_size=n, compression="none",
                   use_dictionary=False)
    assert pq.ParquetFile(path).num_row_groups == 1
    docs = spark.read.parquet(path).select("doc_id", "text")
    assert docs.rdd.getNumPartitions() >= dp
    assert "RoundRobinPartitioning" in _plan(_queries._spread(docs))

    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, str(2**20))  # (dp + 2) MB is over dp full splits
    try:
        assert "Exchange" not in _plan(_queries._spread(docs))
    finally:
        spark.conf.set(key, old)


def test_extraction_single_shuffle_after_parse(spark, monkeypatch):
    """With a skew tail (threshold 0 sends every doc to it) the
    no-checkpoint plan routes once: exactly two MapInPandas nodes.
    The narrow doc kernel reads the scan with no exchange below it and
    emits finished (doc_id, spans) rows. The page kernel sits directly
    above the skew tail's REPARTITION_BY_NUM exchange; its rows are hashed
    by doc_id once for doc_spans (window + groupBy reuse that partitioning)."""
    from docprompt_spark import pipeline

    monkeypatch.setattr(pipeline, "SKEW_PAGE_THRESHOLD", 0)
    docs = pipeline.corpus_df(spark, 3, seed=5, skew_every=0)
    result = pipeline.run_extraction(spark, docs.select("doc_id", "pdf", "n_pages"))
    plan = _plan(result)
    lines = plan.splitlines()
    maps = [i for i, ln in enumerate(lines) if "MapInPandas" in ln]
    assert len(maps) == 2, plan
    narrow, tail = sorted(maps, key=lambda i: "REPARTITION_BY_NUM" in lines[i + 1])
    assert "REPARTITION_BY_NUM" in lines[tail + 1], plan
    assert "page_text_len#" in lines[tail], plan
    assert "page_text_len#" not in lines[narrow] and "spans#" in lines[narrow], plan
    scan = next(i for i in range(narrow, len(lines)) if "Scan" in lines[i])
    assert not any("Exchange" in ln for ln in lines[narrow:scan]), plan
    assert plan.count("Exchange") == 2  # tail repartition + doc_id hash
    assert "BatchEvalPython" not in plan


@pytest.mark.parametrize(
    "table",
    [
        pipeline.parse_pages,
        pipeline.page_blocks,
        multimodal.media_table,
        rasterize.page_raster_table,
    ],
    ids=lambda table: table.__name__,
)
def test_router_maps_tail_only_when_present(spark, monkeypatch, table):
    """Every per-page table takes doc rows and maps one kernel per side of
    the router that exists: one MapInPandas with no tail, two when
    threshold 0 forces one."""
    docs = pipeline.corpus_df(spark, 3, seed=5, skew_every=0)
    docs = docs.select("doc_id", "pdf", "n_pages")
    for threshold, n_maps in ((pipeline.SKEW_PAGE_THRESHOLD, 1), (0, 2)):
        monkeypatch.setattr(pipeline, "SKEW_PAGE_THRESHOLD", threshold)
        plan = _plan(table(docs))
        assert _map_count(plan) == n_maps, (threshold, plan)
        assert ("REPARTITION_BY_NUM" in plan) == (n_maps == 2), plan
        assert n_maps == 2 or "Exchange" not in plan, plan


def test_skew_probe_runs_in_jvm_reading_only_n_pages(spark, tmp_path, monkeypatch):
    """skew_route decides whether a tail exists with tail.isEmpty(). On a
    parquet corpus with no tail docs that probe runs no Python and scans
    only n_pages: it must never read the pdf bytes."""
    import re

    from docprompt_spark import pipeline

    path = str(tmp_path / "docs")
    pipeline.corpus_df(spark, 3, seed=5, skew_every=0).write.parquet(path)
    docs = spark.read.parquet(path).select("doc_id", "pdf", "n_pages")
    probed = []
    is_empty = type(docs).isEmpty

    def spy(df):
        empty = is_empty(df)
        # Dataset.isEmpty executes select().limit(1)
        probed.append((_plan(df.select().limit(1)), empty))
        return empty

    monkeypatch.setattr(type(docs), "isEmpty", spy)
    pipeline.run_extraction(spark, docs)
    assert len(probed) == 1
    plan, empty = probed[0]
    assert empty
    for node in ("MapInPandas", "ArrowEvalPython", "BatchEvalPython"):
        assert node not in plan, plan
    assert re.findall(r"ReadSchema: (struct<[^>]*>)", plan) == [
        "struct<n_pages:int>"
    ], plan


@pytest.mark.parametrize("name", query_params(_queries.queries()))
def test_no_rowwise_python_udfs_anywhere(spark, name):
    """Sweep the ENTIRE registry: no BatchEvalPython (row-at-a-time Python
    UDF) in any query's physical plan — Python only ever runs Arrow-batched
    (ArrowEvalPython / MapInPandas)."""
    plan = _plan(_queries.registry()[name][0](spark, SF_DIR))
    assert "BatchEvalPython" not in plan, name


def _top_level_bracket_groups(s: str):
    depth = 0
    groups = []
    start = None
    for i, ch in enumerate(s):
        if ch == "[":
            if depth == 0:
                start = i
            depth += 1
        elif ch == "]":
            depth = max(0, depth - 1)
            if depth == 0 and start is not None:
                groups.append(s[start : i + 1])
                start = None
    return groups


def _is_global_window(line: str) -> bool:
    """Optimized-plan Window node shapes:
    [exprs], [part], [sort]  -> partitioned
    [exprs], [part]          -> partitioned, no ordering
    [exprs], [sort]          -> GLOBAL (sort spec contains ASC/DESC)
    [exprs]                  -> GLOBAL
    """
    groups = _top_level_bracket_groups(line)
    if len(groups) >= 3:
        return False
    if len(groups) == 2:
        return " ASC" in groups[1] or " DESC" in groups[1]
    return True


@pytest.mark.parametrize("name", query_params(_queries.queries()))
def test_no_unpartitioned_windows_anywhere(spark, name):
    """Round-1 verdict: five queries moved all rows to a single partition
    via global windows. Assert the whole registry stays clean: in the
    optimized plan a partitioned Window prints 3 top-level bracket groups
    ([exprs], [partitionSpec], [orderSpec]); a global one prints 2."""
    df = _queries.registry()[name][0](spark, SF_DIR)
    lp = df._jdf.queryExecution().optimizedPlan().toString()
    offenders = []
    for line in lp.splitlines():
        ls = line.strip()
        while ls[:2] in ("+-", ":-", ": ", "  "):
            ls = ls[2:].strip()
        if ls.startswith("Window "):
            if _is_global_window(ls):
                offenders.append(ls[:90])
    assert not offenders, (name, offenders)


@needs_ref_ocr
def test_line_block_assignment_broadcasts_lines(spark):
    from docprompt_spark import queries as q

    df = q.registry()["line_block_word_assignment"][0](spark, SF_DIR)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_ann_topk_uses_take_ordered(spark):
    from docprompt_spark import queries as q

    for name in ("ann_bruteforce_cosine_top10", "ann_lsh_bucketed_top5"):
        plan = _plan(q.registry()[name][0](spark, SF_DIR))
        assert "TakeOrderedAndProject" in plan, name
        assert "Window" not in plan, name


def _stages_run(spark, group, action) -> int:
    """Stages that ran tasks in the jobs ``action`` starts, read from the
    status store once every job of the group has ended."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    st = sc.statusTracker()
    deadline = time.monotonic() + 30
    while True:
        jobs = [st.getJobInfo(j) for j in st.getJobIdsForGroup(group)]
        if all(j.status == "SUCCEEDED" for j in jobs) or time.monotonic() > deadline:
            break
        time.sleep(0.1)
    # a later job lists the stages it reuses, as skipped: same ids, no tasks
    infos = [st.getStageInfo(s) for s in {s for j in jobs for s in j.stageIds}]
    return sum(1 for i in infos if i is not None and i.numCompletedTasks > 0)


def test_minhash_runs_in_few_stages(spark):
    """The signature kernel runs in the band buckets' map stage, with no
    checkpoint job of its own, and both verification joins read one
    broadcast of the shingle arrays: here the query's build and action run
    5 stages in all (the spread, the shingle broadcast, kernel and band
    map, band reduce and candidate dedup, verification), against 7 with a
    checkpointed kernel and 12 with the JVM-side signature."""
    fn = _queries.registry()["minhash_lsh_neardup_pairs"][0]
    n = _stages_run(spark, "minhash-stages", lambda: fn(spark, SF_DIR).collect())
    assert 0 < n <= 5, n


def test_simhash_runs_in_few_stages(spark):
    """The kernel's rows are hash-partitioned straight into the signature
    groups and every branch reads that one exchange: the spread, the
    kernel, the band broadcast, the member broadcast and the expansion,
    against 10 stages with a checkpointed kernel."""
    fn = _queries.registry()["simhash_neardup_pairs"][0]
    n = _stages_run(spark, "simhash-stages", lambda: fn(spark, SF_DIR).collect())
    assert 0 < n <= 5, n


def test_q5_runs_in_few_stages(spark):
    """Three dimension broadcasts, the lineitem stage and the final
    aggregate; each dimension joins lineitem directly, so no broadcast
    waits on another."""
    fn = _queries.registry()["q5_supplier_volume_by_nation"][0]
    n = _stages_run(spark, "q5-stages", lambda: fn(spark, SF_DIR).collect())
    assert 0 < n <= 5, n
