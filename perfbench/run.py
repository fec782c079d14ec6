#!/usr/bin/env python3
"""The engine benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload batch_corpus --seed 1 --seconds 20 --trace 0

Run from the repository root. The run generates its inputs from the
seed under ``.perfbench_work/`` (removed at exit), starts a Spark
session on ``local[<cores>]`` and seeds the workload's state
(``setup_s``). A batch workload then makes one cold pass; a serving
workload repeats warm passes for ``--seconds`` (at least one). Every
output is checked outside the timed region.

With ``--trace 0`` it reports the end-to-end metrics. With ``--trace 1``
the measured passes are traced and it reports the per-layer metrics,
including the tracing overhead measured on extra warm passes, and
writes the spans to ``.perfbench_out/``. The last line of standard
output is one JSON object: ``{"correct", "attempted", "failed",
"metrics"}``. perfbench/WORKLOADS.md describes workloads and metrics.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_BASE = os.path.join(ROOT, ".perfbench_work")
OUT_DIR = os.path.join(ROOT, ".perfbench_out")
DRIVER_MEMORY = "4g"
TAIL_SAMPLES = 10  # samples a reported tail percentile has beyond it

#: name -> unit of every end-to-end metric (reported with --trace 0)
END_TO_END = {"setup_s": "s", "wall_s": "s", "heap_mb": "MB"}

#: name -> unit of every per-layer metric (reported with --trace 1);
#: a layer a workload does not call reports 0
PER_LAYER = {
    "session.start_s": "s",
    "datamodel.scan_s": "s",
    "sources.refcorpus_scan_s": "s",
    "sources.write_kv_s": "s",
    "mapreduce.task1_s": "s",
    "mapreduce.task2_s": "s",
    "mapreduce.task3_s": "s",
    "mapreduce.wordcount_s": "s",
    "mapreduce.py_map_s": "s",
    "dedup.exact_s": "s",
    "dedup.minhash_lsh_s": "s",
    "dedup.substring_spans_s": "s",
    "dedup.minhash_recall": "ratio",
    "textops.quality_s": "s",
    "textops.bpe_encode_s": "s",
    "training.curate_s": "s",
    "training.shard_manifest_s": "s",
    "similarity.centroids_s": "s",
    "similarity.knn_plan_ms": "ms",
    "similarity.knn_exec_ms": "ms",
    "similarity.ivf_plan_ms": "ms",
    "similarity.ivf_exec_ms": "ms",
    "similarity.rows_per_result": "ratio",
    "similarity.ivf_recall": "ratio",
    "retrieval.bm25_plan_ms": "ms",
    "retrieval.bm25_exec_ms": "ms",
    "retrieval.rows_per_result": "ratio",
    "serve.knn_p50_ms": "ms",
    "serve.ivf_p50_ms": "ms",
    "serve.bm25_p50_ms": "ms",
    **{f"nightly.{leg}_s": "s" for leg in ("bloom", "minhash", "substring", "cms", "embedding", "ivf", "pq", "ann_lsh")},
    "nightly.night_s": "s",
    "nightly.audit_s": "s",
    "nightly.state_bytes_per_input_byte": "ratio",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "spark.task_busy_s": "s",
    "spark.busy_frac": "ratio",
    "spark.gc_s": "s",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.input_mb": "MB",
    "spark.persisted_left": "count",
    "process.cpu_s": "s",
    "process.peak_rss_mb": "MB",
    **{
        f"self.{layer}_s": "s"
        for layer in (
            "benchmark",
            "datamodel",
            "sources",
            "refjob",
            "plans.registry",
            "operators.mapreduce",
            "operators.dedup",
            "operators.textops",
            "operators.training",
            "operators.similarity",
            "operators.retrieval",
            "operators.nightly",
            "spark",
        )
    },
    "trace.overhead_frac": "ratio",
    "error_rate": "ratio",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def sandbox_env(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``."""
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY


def session_conf(work: str) -> dict[str, str]:
    return {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "spark.ui.showConsoleProgress": "false",
    }


def percentile_with_tail(values: list[float]):
    """(percentile, value) of the highest percentile that has at least
    TAIL_SAMPLES samples above it, or None with too few samples."""
    n = len(values)
    if n <= TAIL_SAMPLES:
        return None
    v = sorted(values)
    idx = n - TAIL_SAMPLES - 1
    return round(100.0 * (idx + 1) / n, 1), v[idx]


def op_span_name(spans) -> dict[str, str]:
    """span id -> name of its operation span (the child of a pass)."""
    by_id = {s.id: s for s in spans}
    out = {}
    for s in spans:
        cur = s
        while cur.parent is not None and by_id[cur.parent].name != "pass":
            cur = by_id[cur.parent]
        if cur.parent is not None:
            out[s.id] = cur.name
    return out


def run(args, work: str) -> tuple[dict, list[str]]:
    from mpi_mapreduce_spark import session
    from perfbench import gen, sparkstats, trace, workloads

    cls = workloads.WORKLOADS[args.workload]
    t_gen = time.perf_counter()
    inputs = gen.GENERATORS[args.workload](args.seed, os.path.join(work, "inputs"))
    gen_s = time.perf_counter() - t_gen
    cpus = len(os.sched_getaffinity(0))

    t0 = time.perf_counter()
    spark = session.get_spark(app_name="perfbench", cpus=cpus, extra_conf=session_conf(work))
    start_s = time.perf_counter() - t0
    try:
        tracer = trace.Tracer(spark.sparkContext, enabled=False)
        wl = cls(spark, inputs, tracer, work)
        wl.setup()
        wl.between()
        setup_s = time.perf_counter() - t0

        reader = sparkstats.StageReader(spark) if args.trace else None
        if reader:
            reader.collect()  # setup's jobs are not part of any pass
        spark_total: dict[str, float] = {}
        persisted: list[int] = []
        cpu: list[float] = []
        heap: list[int] = []

        def attach_stages(record: bool) -> None:
            """Give each span the stage metrics of the jobs it started;
            ``record`` also adds them to the per-pass totals."""
            spans = {s.id: s for s in tracer.spans}
            for group, m in reader.collect().items():
                if group in spans:
                    spans[group].spark = m
                    if record:
                        sparkstats.add_into(spark_total, m)

        def one_pass(traced: bool, record: bool = True) -> float:
            tracer.enabled = traced
            c0, tp = sparkstats.tree_cpu_seconds(), time.perf_counter()
            with tracer.span("pass", "benchmark", new_trace=True):
                wl.run_pass()
            wall = time.perf_counter() - tp
            tracer.enabled = False
            if record:
                cpu.append(sparkstats.tree_cpu_seconds() - c0)
                if not heap and not args.trace:
                    heap.append(sparkstats.live_heap_bytes(spark))
            if reader:
                attach_stages(record)
            left = wl.between()
            if record:
                persisted.append(left)
            if reader:
                reader.collect()  # isolation and checks are not the pass
            return wall

        # the measured passes: a cold workload makes exactly one, a warm
        # one repeats passes for --seconds; traced in a traced run
        walls: list[float] = []
        rss = sparkstats.RssSampler() if args.trace else contextlib.nullcontext()
        with rss:
            t_loop = time.perf_counter()
            while not walls or (not wl.cold and time.perf_counter() - t_loop < args.seconds):
                walls.append(one_pass(bool(args.trace)))
            loop_s = time.perf_counter() - t_loop
        overhead, pass_spans = None, []
        if args.trace:
            # tracing overhead: a traced warm pass between two untraced
            # ones (passes still speed up as the JVM warms), kept out of
            # every other per-layer number
            pass_spans, times = list(tracer.spans), {k: list(v) for k, v in wl.times.items()}
            before = one_pass(False, record=False)
            traced = one_pass(True, record=False)
            after = one_pass(False, record=False)
            overhead = traced / ((before + after) / 2) - 1.0
            tracer.spans, wl.times = list(pass_spans), times
            # traced, but kept out of the per-pass numbers: its spans
            # and their stage metrics go to the span dump
            tracer.enabled = True
            wl.after_passes()
            tracer.enabled = False
            attach_stages(record=False)
        wl.finish()
    finally:
        sparkstats.stop_spark(spark)

    rate = wl.failed / max(1, wl.attempted)
    lines = [
        f"{args.workload}: inputs {gen_s:.1f} s, session start {start_s:.1f} s, setup {setup_s:.1f} s",
        f"{args.workload}: {len(walls)} {'traced' if args.trace else 'untraced'} passes in "
        f"{loop_s:.1f} s, {wl.attempted} operations, {wl.failed} failed (error_rate {rate:.4f})",
    ]
    for msg in wl.failures[:20]:
        lines.append(f"  FAILED {msg}")
    for name, values in sorted(wl.times.items()):
        tail = percentile_with_tail(values)
        tail_s = f", p{tail[0]} {1000 * tail[1]:.1f} ms" if tail else ""
        lines.append(
            f"  {name}: p50 {1000 * statistics.median(values):.1f} ms over {len(values)} samples{tail_s}"
        )

    if not args.trace:
        metrics = {
            "setup_s": setup_s,
            "wall_s": statistics.median(walls),
            "heap_mb": heap[0] / 2**20,
        }
        samples = {"setup_s": 1, "wall_s": len(walls), "heap_mb": 1}
        units = END_TO_END
    else:
        metrics = dict.fromkeys(PER_LAYER, 0.0)
        metrics.update(wl.layer_metrics())
        metrics["session.start_s"] = start_s
        metrics.update(spark_metrics(spark_total, len(walls), sum(walls), cpus))
        metrics["spark.persisted_left"] = statistics.median(persisted)
        metrics["process.cpu_s"] = statistics.median(cpu)
        metrics["process.peak_rss_mb"] = rss.peak / 2**20
        for layer, secs in trace.self_times(pass_spans).items():
            key = f"self.{layer}_s"
            if key in metrics:
                metrics[key] = secs / len(walls)
        metrics.update(rows_per_result(pass_spans))
        metrics["trace.overhead_frac"] = overhead
        metrics["error_rate"] = rate
        samples = {}
        units = PER_LAYER
        os.makedirs(OUT_DIR, exist_ok=True)
        tracer.dump(os.path.join(OUT_DIR, f"{args.workload}-seed{args.seed}-spans.jsonl"))

    for name, value in metrics.items():
        n = f" over {samples[name]} samples" if name in samples else ""
        lines.append(f"  {name} = {value:.6g} {units[name]}{n}")
    result = {
        "correct": wl.failed == 0,
        "attempted": wl.attempted,
        "failed": wl.failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }
    return result, lines


def spark_metrics(total: dict[str, float], passes: int, wall: float, cpus: int) -> dict[str, float]:
    """Per-pass Spark runtime counters from summed stage metrics."""
    busy = total.get("executorRunTime", 0.0) / 1000
    mb = 2.0**20
    return {
        "spark.jobs": total.get("jobs", 0.0) / passes,
        "spark.tasks": total.get("numTasks", 0.0) / passes,
        "spark.failed_tasks": total.get("numFailedTasks", 0.0) / passes,
        "spark.task_busy_s": busy / passes,
        "spark.busy_frac": busy / max(1e-9, wall * cpus),
        "spark.gc_s": total.get("jvmGcTime", 0.0) / 1000 / passes,
        "spark.shuffle_write_mb": total.get("shuffleWriteBytes", 0.0) / mb / passes,
        "spark.spill_mb": (total.get("memoryBytesSpilled", 0.0) + total.get("diskBytesSpilled", 0.0))
        / mb
        / passes,
        "spark.input_mb": total.get("inputBytes", 0.0) / mb / passes,
    }


def rows_per_result(spans) -> dict[str, float]:
    """Source rows read per top-k row returned, by request type: the
    input records of every stage a request's spans started, over 10
    rows per request."""
    op_of = op_span_name(spans)
    scanned: dict[str, float] = {}
    for s in spans:
        if s.spark and s.id in op_of:
            scanned[op_of[s.id]] = scanned.get(op_of[s.id], 0.0) + s.spark["inputRecords"]
    out = {}
    for key, kinds in (
        ("similarity.rows_per_result", ("serve.knn", "serve.ivf")),
        ("retrieval.rows_per_result", ("serve.bm25",)),
    ):
        returned = 10 * sum(1 for s in spans if s.name in kinds)
        if returned:
            out[key] = sum(scanned.get(k, 0.0) for k in kinds) / returned
    return out


def main() -> int:
    args = parse_args(sys.argv[1:])
    # a terminated run still stops Spark and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; have {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    work = os.path.join(WORK_BASE, f"{args.workload}-{os.getpid()}")
    sandbox_env(work)
    try:
        result, lines = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if os.path.isdir(WORK_BASE) and not os.listdir(WORK_BASE):
            os.rmdir(WORK_BASE)
    print("\n".join(lines))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
