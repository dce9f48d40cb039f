"""Tests of the benchmark's own helpers; no Spark session is started.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os

import pyarrow as pa
import pytest

from perfbench import core


# -- percentiles ----------------------------------------------------------


def test_p90_needs_ten_samples_beyond():
    # 100 samples: the nearest-rank p90 is the 90th, 10 lie beyond it
    assert core.samples_beyond(100, 0.9) == 10
    assert core.reportable_percentile(list(range(1, 101)), 0.9) == 90
    # 99 samples leave only 9 beyond: not reported
    assert core.samples_beyond(99, 0.9) == 9
    assert core.reportable_percentile(list(range(1, 100)), 0.9) is None


def test_median_reported_from_any_samples():
    assert core.reportable_percentile([3.0], 0.5) == 3.0
    assert core.reportable_percentile([1.0, 2.0, 10.0, 11.0], 0.5) == 6.0
    assert core.reportable_percentile([], 0.5) is None


def test_nearest_rank_ignores_order():
    assert core.nearest_rank([5, 1, 4, 2, 3], 0.4) == 2


# -- amplification -----------------------------------------------------------


def test_written_bytes_counts_new_and_rewritten_files():
    before = {"a": (10, 1), "b": (20, 1)}
    after = {"a": (10, 1), "b": (25, 2), "c": (7, 3)}
    assert core.written_bytes(before, after) == 25 + 7
    assert core.tree_bytes(after) == 42


def test_amplification_arithmetic(tmp_path):
    table = pa.table({"k": pa.array(range(1000), type=pa.int64())})
    logical = core.parquet_bytes(table)
    assert logical > 0
    for name, n in (("x", 3), ("y", 5)):
        with open(os.path.join(tmp_path, name), "wb") as fh:
            fh.write(b"\0" * n * logical)
    snap = core.tree_files(str(tmp_path))
    assert core.amplification(core.tree_bytes(snap), logical) == pytest.approx(8.0)
    assert core.amplification(core.written_bytes({}, snap), logical) == pytest.approx(8.0)
    with pytest.raises(ValueError):
        core.amplification(1, 0)


# -- spans ----------------------------------------------------------------------


def _span(i, parent, start, end, name="x.y"):
    return core.Span(i, parent, name, 0, start, end)


def test_self_time_subtracts_children_once():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 4.0),
        _span(2, 0, 3.0, 6.0),  # overlaps child 1: union 1..6
        _span(3, 1, 1.5, 2.0),  # grandchild counts against span 1 only
    ]
    st = core.self_times(spans)
    assert st[0] == pytest.approx(10.0 - 5.0)
    assert st[1] == pytest.approx(3.0 - 0.5)
    assert st[2] == pytest.approx(3.0)
    assert st[3] == pytest.approx(0.5)


def test_driver_time_is_wall_minus_job_union():
    s = _span(0, None, 0.0, 10.0)
    jobs = [(1.0, 3.0), (2.0, 4.0), (8.0, 12.0)]  # last job clipped at the span's end
    assert core.driver_time(s, jobs) == pytest.approx(10.0 - 3.0 - 2.0)


def test_tracer_nests_and_tags_groups():
    tags = []
    tr = core.Tracer(True, tags.append)
    with tr.span("op.a"):
        with tr.span("lineage.b"):
            pass
    with tr.span("op.c"):
        pass
    assert [(s.name, s.parent, s.op) for s in tr.spans] == [("op.a", None, 0), ("lineage.b", 0, 0), ("op.c", None, 1)]
    assert tags == ["pb0", "pb1", "pb0", None, "pb2", None]
    assert core.Tracer(False).spans == []


def test_span_calls_join_jobs_by_group():
    spans = [_span(0, None, 0.0, 2.0, "op.r"), _span(1, 0, 0.5, 1.5, "lineage.r")]
    jobs = {"pb1": [{"start": 0.6, "end": 1.0, "input": 100, "shuffle_read": 20}]}
    calls = core.span_calls(spans, jobs)
    (row,) = calls["lineage.r"]
    assert row["jobs"] == 1 and row["bytes"] == 120
    assert row["exec_ms"] == pytest.approx(400.0)
    assert row["driver_ms"] == pytest.approx(600.0)
    assert calls["op.r"][0]["self_ms"] == pytest.approx(1000.0)


# -- model checkers -----------------------------------------------------------


def test_lineage_model_check_catches_a_planted_wrong_row():
    from perfbench.workloads.lineage_rw import agg_equal, model_agg

    rows = [(7, "O", 10.5, None, "1-URGENT"), (9, "F", 2.25, None, "5-LOW")]
    want = model_agg(rows)
    assert agg_equal({"n": 2, "price": 12.75, "cust": 16}, want)
    planted = rows[:1] + [(9, "F", 2.5, None, "5-LOW")]
    got = model_agg(planted)
    assert not agg_equal({"n": got[0], "price": got[1], "cust": got[2]}, want)
    assert not agg_equal({"n": 3, "price": 12.75, "cust": 16}, want)


class _Rec:
    def __init__(self, key, columns):
        self.key, self.columns = key, columns


class _StubBench:
    def __init__(self, answers):
        self.answers = answers
        self.failed = 0
        self.attempted = 0

    def span(self, name):
        return core.Tracer(False).span(name)

    def op(self, kind, cls, fn):
        self.attempted += 1
        return self.answers.pop(0)

    def check(self, ok, msg):
        self.failed += 0 if ok else 1


def test_oltp_model_check_catches_a_planted_wrong_row():
    from perfbench.workloads.oltp_point import OltpPoint

    wl = OltpPoint.__new__(OltpPoint)
    wl.versions = {5: [[5, 1, 2, 3, 4]]}
    wl.live, wl.pos = [5], {5: 0}
    wl.zipf = type("Z", (), {"draw": staticmethod(lambda: 5)})()
    wl.q = None
    wl.b = _StubBench([[_Rec(5, [5, 1, 2, 3, 4])], [_Rec(5, [5, 1, 2, 3, 99])]])
    wl.do("select_key")
    assert wl.b.failed == 0
    wl.do("select_key")
    assert wl.b.failed == 1


def test_tracer_inner_cost_counts_only_nested_spans():
    tr = core.Tracer(True)
    with tr.span("op.a"):
        with tr.span("lineage.b"):
            pass
    assert tr.inner_cost > 0.0
    top_only = core.Tracer(True)
    with top_only.span("op.a"):
        pass
    assert top_only.inner_cost == 0.0
