"""The three workloads. Each one prepares its inputs, runs one closed-loop
iteration at a time and, in a traced run, derives its layer metrics.

An iteration returns ``(timed wall in s, failed items)``. A document fails
when its ``xxhash64(doc_id, spans)`` differs from the golden spans the
corpus carries (or it is missing); a query fails when its row count or
rounded-value hash differs from the fingerprint pinned in
``expected.json``.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time
import uuid

from perfbench import inputs, layers
from perfbench.status import stage_totals

N_DOCS = 300
QUERY_SCALE = 0.04
QUERY_NAMES = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_supplier_volume_by_nation",
    "sessionize_events",
    "top3_orders_per_customer",
    "term_frequencies_top20",
    "dedup_exact_groups",
    "minhash_lsh_neardup_pairs",
    "simhash_neardup_pairs",
    "ann_bruteforce_cosine_top10",
    "ann_lsh_bucketed_top5",
    "text_quality_scores",
]


def _bad_docs(spark, result, corpus_path: str) -> int:
    """Docs whose output spans differ from the golden ones, or are missing
    on either side."""
    gold = spark.read.parquet(corpus_path).selectExpr(
        "doc_id", "xxhash64(doc_id, spans) AS g"
    )
    out = result.selectExpr("doc_id", "xxhash64(doc_id, spans) AS h")
    return (
        gold.join(out, "doc_id", "full_outer")
        .where("g IS NULL OR h IS NULL OR g != h")
        .count()
    )


def _dir_mb(path: str) -> float:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total / (1024.0 * 1024.0)


class Extract:
    """``run_extraction`` without a checkpoint; the timed action is the
    fingerprint aggregate over its output. Measured warm: one untimed
    iteration runs first."""

    name = "extract"
    warm = repeat = True

    def prepare(self, ctx) -> None:
        self.path, self.info = inputs.corpus(
            ctx.spark, ctx.work, ctx.seed, N_DOCS, ctx.expected["corpus"]
        )
        self.items = self.info["n_docs"]
        print(f"[perfbench] corpus seed {ctx.seed}: {self.info}", file=sys.stderr)

    def docs(self, ctx):
        # read as jobs/extract_job.py reads it: partitioning is the program's
        return ctx.spark.read.parquet(self.path).select("doc_id", "pdf", "n_pages")

    def check(self, ctx, result, row) -> int:
        if (row.n, row.fp) == (self.items, self.info["golden_fp"]):
            return 0
        return _bad_docs(ctx.spark, result, self.path)

    def iteration(self, ctx, tag):
        from docprompt_spark import pipeline

        ctx.group(tag)
        t0 = time.perf_counter()
        result = pipeline.run_extraction(ctx.spark, self.docs(ctx))
        row = result.selectExpr(*inputs.SPANS_FP_SQL).first()
        wall = time.perf_counter() - t0
        return wall, self.check(ctx, result, row)

    def layers(self, ctx, tags, walls) -> tuple:
        """``(layer metrics, attempted, failed)`` of the traced probes."""
        import pyarrow.parquet as pq

        per_iter = []
        for tag in tags:
            stages = ctx.store.group_stages(tag)
            parse = max(stages, key=lambda s: s["inputRecords"])
            idle = [s for s in stages if s["inputRecords"] == 0 and s["shuffleReadRecords"] == 0]
            per_iter.append((stages, parse, idle))
        n_it = len(tags)
        tot = stage_totals([s for st, _p, _i in per_iter for s in st])
        durations = [d for _st, p, _i in per_iter for d in ctx.store.task_durations(p)]
        task_run_s = tot["task_run_s"] / n_it
        wall = statistics.median(walls)

        pdfs = pq.read_table(self.path, columns=["doc_id", "pdf"]).sort_by("doc_id")
        serial = layers.serial_layers(pdfs.column("pdf").to_pylist())
        slot_rate = self.items / task_run_s
        out = {
            "pdfparse.unwrap_ms": serial["unwrap_ms"],
            "pdfparse.open_ms": serial["open_ms"],
            "pdfparse.extract_page_ms": serial["extract_page_ms"],
            "kernels.layout_ms": serial["layout_ms"],
            "kernels.spans_ms": serial["spans_ms"],
            "serial.docs_per_s": serial["docs_per_s"],
            "serial.sum_vs_wall": serial["sum_vs_wall"],
            "serial.pass_spread": serial["pass_spread"],
            "pipeline.parse_tasks": sum(p["numCompleteTasks"] for _s, p, _i in per_iter) / n_it,
            "pipeline.task_run_s": task_run_s,
            "pipeline.task_p50_s": statistics.median(durations),
            "pipeline.task_max_s": max(durations),
            "pipeline.slot_busy": task_run_s / (wall * ctx.slots),
            "pipeline.slot_docs_per_s": slot_rate,
            "pipeline.worker_eff": slot_rate / serial["docs_per_s"],
            "pipeline.parallel_eff": self.items / wall / (ctx.slots * serial["docs_per_s"]),
            "pipeline.skew_branch_task_s": sum(
                s["executorRunTime"] for _st, _p, idle in per_iter for s in idle
            ) / 1000.0 / n_it,
            "pipeline.arrow_identity_s": layers.arrow_identity_s(ctx.spark, self.docs(ctx)),
            "pipeline.shuffle_write_mb": tot["shuffle_write_mb"] / n_it,
            "pipeline.spill_mb": tot["spill_mb"] / n_it,
        }
        resume, attempted, failed = resume_layers(ctx, self)
        return {**out, **resume}, attempted, failed


def resume_layers(ctx, extract, iterations: int = 2) -> tuple:
    """The checkpointed job resumed after a crash, run as a traced probe of
    ``extract``: each iteration starts from a fresh copy of a checkpoint
    holding the pages of 3/4 of the docs, runs ``run_extraction(...,
    checkpoint_dir=...)`` over all docs and commits the result with
    ``table.write_table``, as ``jobs/extract_job.py --checkpoint
    --output-format table`` does. The committed table is read back and
    checked. Returns ``(layer metrics, attempted docs, failed docs)``."""
    from docprompt_spark import pipeline, table

    spark = ctx.spark
    base = inputs.resume_base(spark, ctx.work, extract.path, ctx.seed, N_DOCS)
    scratch = os.path.join(ctx.work, "resume_iteration")
    docs = extract.docs(ctx)
    trace = {k: [] for k in (
        "pipeline.resume_call_s", "pipeline.assemble_s", "table.commit_s",
        "pipeline.pages_parsed", "pipeline.cache_proportion", "storage.output_mb",
    )}
    failed = 0
    for _ in range(iterations):
        shutil.rmtree(scratch, ignore_errors=True)
        ckpt, out = os.path.join(scratch, "ckpt"), os.path.join(scratch, "out")
        shutil.copytree(base, ckpt)
        trace["pipeline.cache_proportion"].append(pipeline.cache_proportion(spark, docs, ckpt))
        run_id = uuid.uuid4().hex[:12]
        t0 = time.perf_counter()
        result = pipeline.run_extraction(spark, docs, checkpoint_dir=ckpt, run_id=run_id)
        t1 = time.perf_counter()
        result.selectExpr(*inputs.SPANS_FP_SQL).first()
        t2 = time.perf_counter()
        table.write_table(
            result, out, stat_cols=["doc_id"],
            mode="append" if table.current_snapshot_id(out) is not None else "overwrite",
        )
        t3 = time.perf_counter()
        committed = table.read_table(spark, out)
        failed += extract.check(ctx, committed, committed.selectExpr(*inputs.SPANS_FP_SQL).first())
        trace["pipeline.resume_call_s"].append(t1 - t0)
        trace["pipeline.assemble_s"].append(t2 - t1)
        trace["table.commit_s"].append(t3 - t2)
        trace["pipeline.pages_parsed"].append(
            spark.read.parquet(f"{ckpt}/pages").where(f"run_id = '{run_id}'").count()
        )
        trace["storage.output_mb"].append(_dir_mb(out))
    shutil.rmtree(scratch, ignore_errors=True)
    metrics = {k: statistics.median(v) for k, v in trace.items()}
    return metrics, iterations * extract.items, failed


def query_fingerprint(df):
    """Row count and an order-free hash of every row, with doubles rounded
    to 4 places so that partial-aggregate order cannot flip a last digit."""
    cols = [
        f"round(`{f.name}`, 4)" if f.dataType.typeName() in ("double", "float")
        else f"`{f.name}`"
        for f in df.schema.fields
    ]
    row = df.selectExpr(
        "count(*) AS n", f"sum(xxhash64({', '.join(cols)}) & {inputs.MASK}) AS fp"
    ).first()
    return [row.n, row.fp]


class Queries:
    """The 12 queries bench.py times, once each in a fixed order per
    iteration, over fixed generated tables. Each query's timed action is its
    fingerprint aggregate, which reads every output column of every row.
    Measured cold, as a batch job meets them: the one iteration also pays
    the generated-code compile of every query (about half of its wall at
    this scale on 4 cores), so it is not repeated, as a second one in the
    same JVM would be warm."""

    name = "queries"
    warm = repeat = False

    def prepare(self, ctx) -> None:
        from docprompt_spark import queries

        self.dir = inputs.query_tables(ctx.work, QUERY_SCALE)
        self.registry = queries.registry()
        self.items = len(QUERY_NAMES)
        self.times = {n: [] for n in QUERY_NAMES}

    def iteration(self, ctx, tag):
        failed, total = 0, 0.0
        for name in QUERY_NAMES:
            ctx.group(f"{tag}:{name}" if tag else None)
            t0 = time.perf_counter()
            got = query_fingerprint(self.registry[name][0](ctx.spark, self.dir))
            wall = time.perf_counter() - t0
            total += wall
            if tag:
                self.times[name].append(wall)
            want = ctx.expected["queries"].get(name)
            if got != want:
                failed += 1
                print(f"[perfbench] {name}: fingerprint {got}, expected {want}", file=sys.stderr)
        return total, failed

    def layers(self, ctx, tags, walls) -> tuple:
        out = {f"queries.{n}_s": statistics.median(v) for n, v in self.times.items()}
        out["queries.neardup_s"] = (
            out["queries.minhash_lsh_neardup_pairs_s"] + out["queries.simhash_neardup_pairs_s"]
        )
        for short, name in (("minhash", "minhash_lsh_neardup_pairs"), ("simhash", "simhash_neardup_pairs")):
            stages = [s for tag in tags for s in ctx.store.group_stages(f"{tag}:{name}")]
            out[f"queries.{short}_shuffle_mb"] = stage_totals(stages)["shuffle_write_mb"] / len(tags)
        return out, 0, 0


WORKLOADS = {w.name: w for w in (Extract, Queries)}
