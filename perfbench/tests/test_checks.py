"""A wrong result turns an op into a failure, never a timed success, the
way tests/test_bench_guard.py turns the bench red (no SparkSession)."""

import pandas as pd
import pytest

from col_scan import VALUE_CUT, compare, expected_results
from loop import Op, Sample, run_op, summarize
from parquet_mix import check_pin
from tracing import Tracer


def table():
    return pd.DataFrame(
        {
            "id": [0, 1, 2, 3],
            "value": [VALUE_CUT + 1, 10, VALUE_CUT + 5, 7],
            "score": [1, 2, 3, 4],
            "region": ["west", "east", "west", "north"],
            "h": [11, 22, 33, 44],
        }
    )


def op(name, result, expected):
    return Op(name, lambda: None, lambda _: result, lambda got: compare(name, got, expected), 1000)


def test_expected_results_from_generated_rows():
    e = expected_results(table())
    assert e["full_scan"] == (4, 110)
    assert e["filtered_scan"] == (2, 44)
    assert e["group_by"] == [("east", 1, 10, 10, 10), ("north", 1, 7, 7, 7), ("west", 2, 2 * VALUE_CUT + 6, VALUE_CUT + 1, VALUE_CUT + 5)]
    assert e["driver_read"] == (2, 2 * VALUE_CUT + 6, VALUE_CUT + 1, VALUE_CUT + 5)


def test_perturbed_col_result_fails_the_op():
    e = expected_results(table())
    good = run_op(op("full_scan", (4, 110), e["full_scan"]), 0, Tracer())
    bad = run_op(op("full_scan", (4, 111), e["full_scan"]), 1, Tracer())
    assert good.error is None
    assert bad.error == "full_scan: got (4, 111), expected (4, 110)"


def test_perturbed_group_fails_the_op():
    e = expected_results(table())
    rows = list(e["group_by"])
    rows[0] = ("east", 1, 10, 10, 11)
    assert run_op(op("group_by", rows, e["group_by"]), 0, Tracer()).error is not None


def test_perturbed_parquet_pin_fails_the_op():
    pins = {"tpch_q1": {"rows": 6, "hash": 10}}
    assert check_pin("tpch_q1", {"rows": 6, "hash": 10}, pins) is None
    assert "expected" in check_pin("tpch_q1", {"rows": 5, "hash": 10}, pins)
    assert "expected" in check_pin("tpch_q1", {"rows": 6, "hash": 11}, pins)


def test_raising_op_is_counted_failed():
    def boom():
        raise RuntimeError("decoder broke")

    s = run_op(Op("x", boom, lambda _: None, lambda _: None, 0), 0, Tracer())
    assert s.error == "RuntimeError: decoder broke"


def test_failed_ops_are_not_timed_as_successes():
    ops = {"a": op("a", 1, 1), "b": op("b", 1, 1)}
    samples = [
        Sample("a", 0, 1.0, None, False),
        Sample("b", 1, 4.0, None, False),
        Sample("b", 2, 0.001, "wrong", False),
    ]
    m = summarize(samples, 10.0, ops)
    assert m["ops_per_s"] == pytest.approx(0.2)
    assert m["op_geomean_ms"] == pytest.approx(2000.0)
    assert m["scan_mb_per_s"] == pytest.approx(2 * 1000 / 5.0 / 1e6)
    with pytest.raises(RuntimeError):
        summarize([Sample("a", 0, 1.0, "wrong", False)], 1.0, ops)
