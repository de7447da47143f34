#!/usr/bin/env python3
"""The repository benchmark: one closed-loop client on ``local[4]``.

    python3 perfbench/run.py --workload extract|queries \
        [--seed 42] [--seconds 16] [--trace 0|1]

Run from the repository root. A run sets up Spark (session start,
package shipping, a warm-up on every slot), prepares its inputs from
``--seed`` (timed apart), sets up twice more and reports the median of the
three set-ups as ``setup_s``. It then runs one untimed warm iteration where
the workload wants one, and iterations back to back until ``--seconds``
have passed (``queries`` runs exactly one), checking every output.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and the metrics ``BENCHMARK.json`` declares, the end-to-end ones
with ``--trace 0`` and the per-layer ones with ``--trace 1``. A per-layer metric reads 0 on a
workload that does not run that layer. See ``perfbench/README.md`` for the
workloads and which layer metric should move which end-to-end metric.

Everything the run writes stays under ``.perfbench_work/`` in the root.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SLOTS = 4
SETUPS = 3


class Ctx:
    def __init__(self, spark, work: str, seed: int, expected: dict, trace: bool) -> None:
        from perfbench.status import StatusStore

        self.spark, self.work, self.seed = spark, work, seed
        self.expected, self.slots = expected, SLOTS
        self.store = StatusStore(spark.sparkContext) if trace else None

    def group(self, tag) -> None:
        """Tag the following Spark jobs, so the status store can be read
        per timed phase; ``None`` clears the tag."""
        sc = self.spark.sparkContext
        if tag:
            sc.setJobGroup(tag, tag)
        else:
            sc.setLocalProperty("spark.jobGroup.id", None)


def _isolate(work: str) -> None:
    """Keep Spark's, Java's and Python's scratch files inside ``work`` and
    fix the driver heap."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # every JVM, spark-submit's launcher included, would otherwise keep a
    # perf-counter file in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # a 2 GB driver heap holds these inputs with room to spare; under the
    # 8 GB default, how far G1 grows the heap varies from run to run, and
    # peak_rss_mb with it
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    # the program ships itself as a zip it builds under /tmp; hand it the
    # same package zipped inside the work dir instead
    from docprompt_spark import shipping

    path = shutil.make_archive(os.path.join(work, "docprompt_spark"), "zip", ROOT, "docprompt_spark")
    shipping.build_zip = lambda: path


def _setup():
    """Session start, package shipping, and a warm-up that starts a Python
    worker on every slot and imports the parse modules there."""
    from docprompt_spark import session, shipping

    def warm(batches):
        from docprompt_spark import kernels, pdfparse, pipeline  # noqa: F401

        yield from batches

    t0 = time.perf_counter()
    spark = session.get_spark(master=f"local[{SLOTS}]", app_name="perfbench")
    shipping.ensure_py_files(spark)
    spark.range(SLOTS, numPartitions=SLOTS).mapInPandas(warm, "id long").collect()
    return spark, time.perf_counter() - t0


def _shutdown() -> None:
    """Stop Spark and wait until the JVM and every Python worker ended."""
    from pyspark import SparkContext

    from perfbench.status import descendants

    gateway = SparkContext._gateway
    if gateway is None:
        return
    started = descendants(os.getpid())
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()  # the JVM exits on EOF
    gateway.proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while True:
        alive = [p for p in started if os.path.exists(f"/proc/{p}")]
        if not alive:
            return
        if time.monotonic() > deadline:
            for p in alive:
                os.kill(p, signal.SIGKILL)
        time.sleep(0.2)


def measure(args) -> tuple:
    from perfbench.status import PeakRss
    from perfbench.workloads import WORKLOADS

    with open(os.path.join(ROOT, "perfbench", "expected.json")) as f:
        expected = json.load(f)
    work = os.path.join(ROOT, ".perfbench_work")
    _isolate(work)

    try:
        spark, seconds = _setup()
        setups = [seconds]
        w = WORKLOADS[args.workload]()
        t0 = time.perf_counter()
        w.prepare(Ctx(spark, work, args.seed, expected, False))
        prepare_s = time.perf_counter() - t0
        # the later set-ups also give the measured loop Python workers that
        # never held input generation, and a full GC lets the JVM hand back
        # the heap generation grew, so peak_rss_mb does not depend on
        # whether the inputs were cached
        spark.sparkContext._jvm.System.gc()
        for _ in range(SETUPS - 1):
            spark.stop()
            spark, seconds = _setup()
            setups.append(seconds)
        ctx = Ctx(spark, work, args.seed, expected, bool(args.trace))
        if w.warm:
            w.iteration(ctx, None)
            ctx.group(None)

        walls, tags, attempted, failed = [], [], 0, 0
        with PeakRss() as rss:
            end = time.perf_counter() + args.seconds
            while attempted == 0 or (w.repeat and time.perf_counter() < end):
                tag = f"{w.name}-{len(tags)}" if args.trace else None
                attempted += w.items
                try:
                    wall, bad = w.iteration(ctx, tag)
                except Exception:  # one failed iteration fails its items, not the run
                    traceback.print_exc()
                    failed += w.items
                    continue
                finally:
                    ctx.group(None)
                failed += bad
                walls.append(wall)
                if tag:
                    tags.append(tag)
        if not walls:
            raise SystemExit("no iteration completed")
        wall = statistics.median(walls)
        values = {
            "setup_s": statistics.median(setups),
            "wall_s": wall,
            "items_per_s": w.items / wall,
            "peak_rss_mb": rss.peak_mb,
        }
        if args.trace:
            layer_values, probe_attempted, probe_failed = w.layers(ctx, tags, walls)
            attempted += probe_attempted
            failed += probe_failed
            values = {
                "trace.wall_s": wall,
                "trace.items_per_s": w.items / wall,
                "setup.cold_s": setups[0],
                "input.prepare_s": prepare_s,
                **layer_values,
            }
        print(f"[perfbench] {args.workload}: {len(walls)} iterations, walls {walls}, "
              f"setups {setups}, prepare {prepare_s:.3f}s", file=sys.stderr)
    finally:
        _shutdown()
    return values, attempted, failed


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["extract", "queries"])
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=16.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not (os.path.isfile(os.path.join(ROOT, "docprompt_spark", "__init__.py"))
            and os.path.isfile(spec_path)):
        print(f"perfbench: {ROOT} holds no docprompt_spark package", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    with open(spec_path) as f:
        spec = json.load(f)

    values, attempted, failed = measure(args)
    declared = spec["per_layer" if args.trace else "end_to_end"]
    unknown = set(values) - {m["name"] for m in declared}
    if unknown:
        raise SystemExit(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")
    metrics = {
        m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
        for m in declared
    }
    for name, m in metrics.items():
        print(f"[perfbench] {name} = {m['value']} {m['unit']}", file=sys.stderr)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
