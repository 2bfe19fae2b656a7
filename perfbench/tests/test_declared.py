"""Every metric the benchmark prints is declared in BENCHMARK.json, with the
contract's shape, and the benchmark refuses to run without the package
(no SparkSession)."""

import json
import os
import re
import shutil
import subprocess
from collections import defaultdict

import pytest

import run
import runenv
from col_scan import ColScan
from loop import Sample
from parquet_mix import QUERIES
from tracing import Span, Tracer

with open(os.path.join(runenv.ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
E2E = {m["name"] for m in SPEC["end_to_end"]}
LAYER = {m["name"] for m in SPEC["per_layer"]}


def col_scan_op_names():
    w = ColScan(None, 1, "/nonexistent")
    w.file_bytes = 0
    return [op.name for op in w._ops(defaultdict(tuple))]


def test_contract_shape():
    assert set(SPEC) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert SPEC["paths"] == ["perfbench"]
    assert [w["name"] for w in SPEC["workloads"]] == list(run.WORKLOADS)
    names = [m["name"] for m in SPEC["end_to_end"] + SPEC["per_layer"]]
    assert len(names) == len(set(names))
    for m in SPEC["end_to_end"] + SPEC["per_layer"]:
        assert re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", m["name"])
        assert re.fullmatch(r"[A-Za-z0-9_/%.-]{1,16}", m["unit"])
    for m in SPEC["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"} and 0 < m["bound"] <= 0.25
    setup = next(m for m in SPEC["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in SPEC["end_to_end"])


def test_end_to_end_names_are_declared():
    from loop import Op, summarize

    m = summarize([Sample("a", 0, 1.0, None, False)], 1.0, {"a": Op("a", None, None, None, 1)})
    assert set(m) | {"setup_s", "driver_rss_mb"} == E2E


def test_every_op_type_has_declared_layer_metrics():
    for op in col_scan_op_names() + list(QUERIES):
        assert f"workloads.build_ms.{op}" in LAYER
        assert f"workloads.action_ms.{op}" in LAYER


def test_traced_layer_names_are_declared():
    tracer = Tracer()
    names = col_scan_op_names() + list(QUERIES)
    traced, plain = [], []
    for i, name in enumerate(names):
        base = 10.0 * i
        tracer.spans += [
            Span(f"op.{name}", base, base + 5, None, i),
            Span("build", base, base + 1, len(tracer.spans), i),
        ]
        root = len(tracer.spans) - 2
        for layer in ("query.build", "catalog.load_table", "colfile.read_col", "dedup.ngram_jaccard_pairs"):
            tracer.spans.append(Span(layer, base, base + 0.1, root + 1, i))
        tracer.spans.append(Span("action", base + 1, base + 5, root, i))
        traced.append(Sample(name, i, 5.0, None, True))
        plain.append(Sample(name, 100 + i, 4.0, None, False))

    class Observer:
        jobs = {i: (2, 3, 8) for i in range(len(names))}
        progress = {0: [{"queryPlanning": 5, "addBatch": 9, "latestOffset": 1, "getBatch": 1, "walCommit": 2, "commitOffsets": 2}]}

    out = run.layer_metrics(tracer, traced, plain, {False: 40.0, True: 50.0}, Observer())
    out.update({"session.start_s": 1.0, "rss.python_mb": 1.0, "rss.jvm_mb": 1.0})
    assert set(out) <= LAYER
    assert out["trace.span_coverage_min"] == 1.0


def test_col_layer_replay_names_are_declared(tmp_path):
    pytest.importorskip("pyspark")
    from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.schema import (
        ColumnSchema,
        ColumnType,
        EncodingType,
        Schema,
    )
    from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.sources.colfile import write_col_rows

    w = ColScan(None, 1, str(tmp_path))
    schema = Schema(
        [
            ColumnSchema("id", ColumnType.INT64, EncodingType.PLAIN),
            ColumnSchema("value", ColumnType.INT64, EncodingType.DELTA),
            ColumnSchema("score", ColumnType.INT32, EncodingType.RLE),
            ColumnSchema("region", ColumnType.STRING, EncodingType.DICTIONARY),
        ]
    )
    # ids spread over the real table's range, so skip_scan skips row groups
    rows = [(i, (i * 7919) % 100_001, i % 10 + 1, ("north", "south")[i % 2]) for i in range(0, 100_000, 50)]
    write_col_rows(rows, schema, w.path, 100)
    w.write_s, w.file_bytes = 0.01, os.path.getsize(w.path)
    out = w.layer_metrics()
    assert set(out) <= LAYER
    assert out["col_datasource.rowgroups_read_ratio"] < 1.0  # skip_scan skips


def test_result_json_refuses_undeclared_names():
    with pytest.raises(RuntimeError):
        run.result_json([], {"not_declared": 1.0}, {"setup_s": "s"})
    line = json.loads(run.result_json([Sample("a", 0, 1.0, None, False)], {"setup_s": 2.0}, {"setup_s": "s"}))
    assert line == {"correct": True, "attempted": 1, "failed": 0, "metrics": {"setup_s": {"value": 2.0, "unit": "s"}}}


def test_bare_directory_fails_without_result(tmp_path):
    shutil.copytree(os.path.join(runenv.ROOT, "perfbench"), tmp_path / "perfbench", ignore=shutil.ignore_patterns(".work"))
    shutil.copy(os.path.join(runenv.ROOT, "BENCHMARK.json"), tmp_path)
    cmd = SPEC["command"] + ["--workload", "col_scan", "--seed", "1", "--seconds", "1", "--trace", "0"]
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(cmd, cwd=tmp_path, capture_output=True, text=True, timeout=170, env=env)
    assert proc.returncode != 0
    assert proc.stdout == ""
