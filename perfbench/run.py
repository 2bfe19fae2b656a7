"""The repository's benchmark: one workload per run, one client in a closed
loop on ``local[<cores>]``.

    python3 perfbench/run.py --workload col_scan --seed 1 --seconds 10 --trace 0

With ``--trace 0`` the run measures the end-to-end metrics declared in
``BENCHMARK.json``. With ``--trace 1`` it measures the per-layer metrics:
rounds run in blocks of untraced, traced, traced, untraced; spans wrap calls
into the package's public functions from outside, and the difference in
ops/s between the two kinds of rounds is the tracing overhead. The last line of standard
output is the result JSON; the line before it describes the box.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

import runenv
from stats import median, percentile

WORKLOADS = ("col_scan", "parquet_mix")
#: each op's direct child spans (build, action) must cover this share of its
#: wall time; the rest is the loop's own glue
SPAN_COVERAGE_TOLERANCE = 0.95


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def declared_metrics() -> dict[str, dict[str, str]]:
    """{"end_to_end"|"per_layer": {name: unit}} from BENCHMARK.json."""
    with open(os.path.join(runenv.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {kind: {m["name"]: m["unit"] for m in spec[kind]} for kind in ("end_to_end", "per_layer")}


def result_json(samples, metrics: dict[str, float], units: dict[str, str]) -> str:
    undeclared = set(metrics) - set(units)
    if undeclared:
        raise RuntimeError(f"metrics not declared in BENCHMARK.json: {sorted(undeclared)}")
    failed = sum(1 for s in samples if s.error is not None)
    return json.dumps(
        {
            "correct": failed == 0,
            "attempted": len(samples),
            "failed": failed,
            "metrics": {n: {"value": metrics.get(n, 0.0), "unit": u} for n, u in units.items()},
        }
    )


def latency_report(samples) -> dict:
    """Median, the highest percentile with ten samples beyond it, the sample
    count and each op type's median (the result JSON carries the
    geometric mean over op types only)."""
    good = [s for s in samples if s.error is None]
    ms = [s.latency_s * 1e3 for s in good]
    by_type = defaultdict(list)
    for s in good:
        by_type[s.op].append(s.latency_s * 1e3)
    return {
        "samples": len(ms),
        "p50_ms": median(ms) if ms else None,
        "p90_ms": percentile(ms, 90),
        "p99_ms": percentile(ms, 99),
        "per_op_p50_ms": {op: median(v) for op, v in sorted(by_type.items())},
        "error_rate": (len(samples) - len(good)) / len(samples) if samples else None,
    }


class OpObserver:
    """Traced rounds only: per-op Spark job, stage and task counts under a
    job group, and per-micro-batch durations from a streaming listener that is
    drained after every op."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        self.spark = spark
        self.sc = spark.sparkContext
        self.jobs: dict[int, tuple[int, int, int]] = {}  # op -> jobs, stages, tasks
        self.progress: dict[int, list[dict]] = defaultdict(list)
        observer = self

        class Listener(StreamingQueryListener):
            def __init__(self):
                self.cv = threading.Condition()
                self.op_of: dict[str, int | None] = {}
                self.done: set[str] = set()
                self.op: int | None = None

            def onQueryStarted(self, event):  # synchronous with start()
                with self.cv:
                    self.op_of[str(event.id)] = self.op

            def onQueryProgress(self, event):
                p = event.progress
                with self.cv:
                    op = self.op_of.get(str(p.id))
                    if op is not None:
                        observer.progress[op].append(dict(p.durationMs))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                with self.cv:
                    self.done.add(str(event.id))
                    self.cv.notify_all()

            def drain(self, timeout: float = 30.0) -> None:
                with self.cv:
                    self.cv.wait_for(lambda: set(self.op_of) <= self.done, timeout)

        self.listener = Listener()

    @contextmanager
    def traced_round(self):
        self.spark.streams.addListener(self.listener)
        try:
            yield
        finally:
            self.spark.streams.removeListener(self.listener)

    @contextmanager
    def around(self, op_id: int):
        group = f"perfbench-op-{op_id}"
        self.sc.setJobGroup(group, group)
        self.listener.op = op_id
        try:
            yield
        finally:
            self.listener.op = None
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.listener.drain()
            tracker = self.sc.statusTracker()
            job_ids = tracker.getJobIdsForGroup(group)
            stages = tasks = 0
            for jid in job_ids:
                job = tracker.getJobInfo(jid)
                for sid in job.stageIds if job else ():
                    stage = tracker.getStageInfo(sid)
                    stages += 1
                    tasks += stage.numTasks if stage else 0
            self.jobs[op_id] = (len(job_ids), stages, tasks)


def keep_checkpoints_in(path: str) -> None:
    """``run_to_memory`` puts its throw-away checkpoints in ``/dev/shm`` when
    that has room; the benchmark writes only inside its checkout."""
    from moteur_d_analytics_colonne_parquet_like_arrow_like__spark import streaming

    streaming._volatile_ckpt_root = lambda: path


def install_spans(tracer) -> None:
    """Wrap the public calls into each layer (no package code changes)."""
    from moteur_d_analytics_colonne_parquet_like_arrow_like__spark import query, streaming
    from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.operators import dedup
    from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.sources import catalog, colfile
    import moteur_d_analytics_colonne_parquet_like_arrow_like__spark.workloads  # noqa: F401  (binds load_table)

    prefix = runenv.PACKAGE
    for fn, name in (
        (colfile.write_col_rows, "colfile.write_col_rows"),
        (colfile.read_col_metadata, "colfile.read_col_metadata"),
        (colfile.read_col, "colfile.read_col"),
        (catalog.load_table, "catalog.load_table"),
        (streaming.run_to_memory, "streaming.run_to_memory"),
        (dedup.ngram_jaccard_pairs, "dedup.ngram_jaccard_pairs"),
    ):
        tracer.patch(fn, name, prefix)
    qe = query.QueryExecutor
    for attr in ("__init__", "set_projection", "add_filter", "set_aggregation", "set_group_by"):
        tracer.patch_method(qe, attr, "query.build")
    for attr in ("execute_query", "execute_aggregate", "aggregate_df", "execute_group_by"):
        tracer.patch_method(qe, attr, "query.execute")


def layer_metrics(tracer, traced, plain, wall: dict, observer: OpObserver) -> dict:
    from tracing import coverage

    spans = tracer.spans
    ids = {s.op_id for s in traced}
    roots = {s.op: i for i, s in enumerate(spans) if s.parent is None and s.op in ids}
    ops = [s for s in traced if s.op_id in roots]
    out: dict[str, float] = {}

    # layer time per op that calls the layer (outermost span of that name)
    per_op: dict[str, dict[int, float]] = defaultdict(lambda: defaultdict(float))
    for s in spans:
        if s.op not in roots:
            continue
        parent, nested = s.parent, False
        while parent is not None:
            nested |= spans[parent].name == s.name
            parent = spans[parent].parent
        if not nested:
            per_op[s.name][s.op] += s.duration
    for metric, span in (
        ("query.build_ms", "query.build"),
        ("catalog.load_table_ms", "catalog.load_table"),
        ("colfile.read_col_ms", "colfile.read_col"),
        ("dedup.ngram_jaccard_pairs_ms", "dedup.ngram_jaccard_pairs"),
    ):
        if per_op[span]:
            out[metric] = sum(per_op[span].values()) / len(per_op[span]) * 1e3

    for phase in ("build", "action"):
        by_type = defaultdict(list)
        for s in ops:
            by_type[s.op].append(per_op[phase][s.op_id])
        for op_type, vals in by_type.items():
            out[f"workloads.{phase}_ms.{op_type}"] = median(vals) * 1e3

    counts = [observer.jobs[s.op_id] for s in ops]
    for i, name in enumerate(("jobs", "stages", "tasks")):
        out[f"session.{name}_per_op"] = sum(c[i] for c in counts) / len(counts)

    streams = [observer.progress[s.op_id] for s in ops if observer.progress.get(s.op_id)]
    if streams:

        def per_stream_op(*keys):
            return sum(sum(b.get(k, 0) for b in batches for k in keys) for batches in streams) / len(streams)

        out["streaming.batches_per_op"] = sum(len(b) for b in streams) / len(streams)
        out["streaming.planning_ms"] = per_stream_op("queryPlanning")
        out["streaming.add_batch_ms"] = per_stream_op("addBatch")
        out["streaming.offsets_ms"] = per_stream_op("latestOffset", "getBatch")
        out["streaming.commit_ms"] = per_stream_op("walCommit", "commitOffsets")

    def ops_per_s(samples, secs):
        return sum(1 for s in samples if s.error is None) / secs

    plain_rate = ops_per_s(plain, wall[False])
    out["trace.overhead_pct"] = (plain_rate - ops_per_s(traced, wall[True])) / plain_rate * 100
    out["trace.span_coverage_min"] = min(coverage(spans, roots[s.op_id]) for s in ops)
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(runenv.ROOT, runenv.PACKAGE)):
        print(f"error: package {runenv.PACKAGE} not found under {runenv.ROOT}", file=sys.stderr)
        return 2
    units = declared_metrics()["per_layer" if args.trace else "end_to_end"]
    trace = bool(args.trace)
    run_dir = os.path.join(runenv.WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    runenv.configure()
    os.makedirs(run_dir)

    from moteur_d_analytics_colonne_parquet_like_arrow_like__spark import get_spark

    from col_scan import ColScan
    from loop import Loop, another_round, summarize
    from parquet_mix import ParquetMix
    from tracing import Tracer

    keep_checkpoints_in(runenv.work_dir("checkpoints"))
    tracer = Tracer()
    if trace:
        install_spans(tracer)
        tracer.active = True
    box = runenv.box(args.seed, args.workload, trace)
    start = time.perf_counter()
    with tracer.span("session.get_spark"):
        spark = get_spark("perfbench")
    session_s = time.perf_counter() - start
    try:
        workload = {"col_scan": ColScan, "parquet_mix": ParquetMix}[args.workload](spark, args.seed, run_dir)
        ops = workload.setup(tracer)
        setup_s = time.perf_counter() - start
        tracer.active = False
        by_name = {op.name: op for op in ops}
        loop = Loop(ops, args.seed)
        if not trace:
            samples, t0 = [], time.perf_counter()
            while True:
                t = time.perf_counter()
                samples += loop.round(tracer)
                now = time.perf_counter()
                if not another_round(now - t0, now - t, args.seconds):
                    break
            metrics = summarize(samples, now - t0, by_name)
            metrics["setup_s"] = setup_s
        else:
            # blocks of untraced, traced, traced, untraced rounds: a drift
            # that is linear in time (warm-up still settling) cancels out
            observer = OpObserver(spark)
            plain, traced, wall = [], [], {False: 0.0, True: 0.0}
            t0 = time.perf_counter()
            while True:
                block = time.perf_counter()
                for kind in (False, True, True, False):
                    t = time.perf_counter()
                    if kind:
                        tracer.active = True
                        with observer.traced_round():
                            traced += loop.round(tracer, around=observer.around)
                        tracer.active = False
                    else:
                        plain += loop.round(tracer)
                    wall[kind] += time.perf_counter() - t
                now = time.perf_counter()
                if not another_round(now - t0, now - block, args.seconds):
                    break
            samples = plain + traced
            metrics = layer_metrics(tracer, traced, plain, wall, observer)
            metrics["session.start_s"] = session_s
            if hasattr(workload, "layer_metrics"):
                metrics.update(workload.layer_metrics())
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        rss = {"python": runenv.peak_rss_mb(), "jvm": runenv.peak_rss_mb(jvm_pid)}
    finally:
        runenv.shutdown(spark)

    if trace:
        metrics["rss.python_mb"], metrics["rss.jvm_mb"] = rss["python"], rss["jvm"]
        path = os.path.join(runenv.work_dir("traces"), f"{args.workload}-seed{args.seed}.json")
        with open(path, "w") as f:
            json.dump({"box": box, "spans": tracer.dump(), "samples": [vars(s) for s in samples]}, f)
        decode = {k.rsplit(".", 1)[1]: round(v, 3) for k, v in metrics.items() if k.startswith("colfile.decode_mb_per_s.")}
        if decode:
            print("decode MB/s per encoding (replayed read(), one column):", decode, file=sys.stderr)
        ok = metrics["trace.span_coverage_min"] >= SPAN_COVERAGE_TOLERANCE
        print(
            f"span coverage min {metrics['trace.span_coverage_min']:.4f} "
            f"({'within' if ok else 'OUTSIDE'} tolerance {SPAN_COVERAGE_TOLERANCE}); trace file {path}",
            file=sys.stderr,
        )
    else:
        metrics["driver_rss_mb"] = rss["python"]
    box["session_start_s"] = session_s
    print(json.dumps({"box": box, "latency": latency_report(samples)}))
    print(result_json(samples, metrics, units), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
