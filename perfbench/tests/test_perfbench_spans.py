"""Span arithmetic and the tracer's wrapping."""

import sys
import types

from spans import Span, Tracer, outermost, self_times, union_length

from run import attribute_jobs, per_layer_names
from probes import JobRec


def sp(sid, start, end, parent=None, layer="x", name="n"):
    return Span(sid, name, layer, start, end, parent, 0)


def test_union_length_merges_overlaps():
    assert union_length([]) == 0.0
    assert union_length([(0, 1), (2, 3)]) == 2.0
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4.0
    assert union_length([(0, 10), (2, 3)]) == 10.0


def test_self_time_subtracts_children_once():
    spans = [sp(1, 0.0, 10.0),
             sp(2, 1.0, 4.0, parent=1),
             sp(3, 3.0, 5.0, parent=1),   # overlaps sibling 2 (another thread)
             sp(4, 1.5, 2.0, parent=2),
             sp(5, 9.0, 12.0, parent=1)]  # runs past its parent's end
    st = self_times(spans)
    assert st[1] == 10.0 - (4.0 + 1.0)   # covered: [1,5] and [9,10]
    assert st[2] == 3.0 - 0.5
    assert st[3] == 2.0
    assert st[4] == 0.5
    assert st[5] == 3.0


def test_outermost_counts_nested_calls_once():
    spans = [sp(1, 0, 10, layer="control"),
             sp(2, 1, 2, parent=1, layer="control"),
             sp(3, 3, 4, parent=1, layer="scd2"),
             sp(4, 3.5, 3.6, parent=3, layer="control")]
    out = outermost(spans, lambda s: s.layer == "control")
    assert [s.sid for s in out] == [1]


def test_jobs_go_to_the_innermost_span():
    spans = [sp(1, 0.0, 10.0), sp(2, 1.0, 3.0, parent=1), sp(3, 3.0, 6.0, parent=1)]
    jobs = [JobRec(0, 1.2, 1.5, 1, 1), JobRec(1, 3.0, 3.4, 1, 1),
            JobRec(2, 6.5, 7.0, 1, 1), JobRec(3, 11.0, 12.0, 1, 1)]
    got = {k: [j.job_id for j in v] for k, v in attribute_jobs(spans, jobs).items()}
    assert got == {2: [0], 3: [1], 1: [2]}


def test_wrap_records_spans_and_skips_missing_targets():
    mod = types.ModuleType("dht11_data_pipeline_spark_fake")
    exec("def f(x):\n    return g(x) + 1\n\ndef g(x):\n    return x * 2\n",
         mod.__dict__)
    sys.modules[mod.__name__] = mod
    user = types.ModuleType("dht11_data_pipeline_spark_fake_user")
    user.g = mod.g  # imported by name elsewhere in the program
    sys.modules[user.__name__] = user
    try:
        tr = Tracer()
        undo = tr.install([(mod.__name__, "f", "a"), (mod.__name__, "g", "b"),
                           (mod.__name__, "gone", "a"),
                           ("dht11_data_pipeline_spark_missing", "h", "a")])
        assert len(tr.notes) == 2 and all("skipped" in n for n in tr.notes)
        assert user.g is mod.g and user.g.__wrapped_by_perfbench__
        assert mod.f(3) == 7 and tr.spans == []       # inactive: no spans
        tr.active, tr.op = True, 5
        assert mod.f(3) == 7
        names = sorted(s.name.rsplit(".", 1)[1] for s in tr.spans)
        assert names == ["f", "g"]
        g_span = next(s for s in tr.spans if s.name.endswith("g"))
        f_span = next(s for s in tr.spans if s.name.endswith("f"))
        assert g_span.parent == f_span.sid and g_span.op == 5
        Tracer.uninstall(undo)
        assert not getattr(mod.f, "__wrapped_by_perfbench__", False)
        assert not getattr(user.g, "__wrapped_by_perfbench__", False)
    finally:
        del sys.modules[mod.__name__], sys.modules[user.__name__]


def test_per_layer_names_match_benchmark_json():
    import json
    import os

    import workloads
    names = per_layer_names(workloads)
    assert len(names) == len({n for n, _ in names})
    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        declared = [(m["name"], m["unit"]) for m in json.load(fh)["per_layer"]]
    assert declared == names
