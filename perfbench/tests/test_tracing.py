"""Span bookkeeping and self-time arithmetic (no SparkSession)."""

import types

from tracing import Span, Tracer, coverage, rebind, restore, self_times


def spans():
    # op [0, 10] -> build [0, 2] -> load [0.5, 1.5]; action [2, 9.5]
    return [
        Span("op.q", 0.0, 10.0, None, 1),
        Span("build", 0.0, 2.0, 0, 1),
        Span("catalog.load_table", 0.5, 1.5, 1, 1),
        Span("action", 2.0, 9.5, 0, 1),
    ]


def test_self_time_subtracts_children():
    assert self_times(spans()) == [0.5, 1.0, 1.0, 7.5]


def test_self_times_add_up_to_the_root():
    assert sum(self_times(spans())) == spans()[0].duration


def test_coverage_of_direct_children():
    assert coverage(spans(), 0) == 0.95
    assert coverage(spans(), 1) == 0.5
    assert coverage(spans(), 2) == 0.0  # a leaf has no children


def test_tracer_links_parents_and_ops():
    t = Tracer()
    with t.span("ignored"):
        pass
    assert t.spans == []
    t.active, t.op = True, 7
    with t.span("outer"):
        with t.span("inner"):
            pass
    outer, inner = t.spans
    assert (outer.parent, inner.parent) == (None, 0)
    assert outer.op == inner.op == 7
    assert outer.start <= inner.start <= inner.end <= outer.end


def test_patch_traces_every_binding_and_unpatches():
    def fn(x):
        return x + 1

    defining = types.ModuleType("pkgx.mod")
    user = types.ModuleType("pkgx.user")
    defining.fn = user.fn = fn
    import sys

    sys.modules.update({"pkgx.mod": defining, "pkgx.user": user})
    try:
        t = Tracer()
        t.active = True
        t.patch(fn, "layer.fn", "pkgx")
        assert user.fn(1) == 2 and defining.fn(2) == 3
        assert [s.name for s in t.spans] == ["layer.fn", "layer.fn"]
        t.unpatch()
        assert user.fn is fn and defining.fn is fn
        undo = rebind(fn, len, "pkgx")
        assert user.fn is len
        restore(undo)
        assert user.fn is fn
    finally:
        del sys.modules["pkgx.mod"], sys.modules["pkgx.user"]
