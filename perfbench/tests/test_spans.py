import json

import pytest

from spans import Tracer, self_time


def test_self_time_without_children_is_duration():
    assert self_time(1.0, 4.0, []) == pytest.approx(3.0)


def test_self_time_subtracts_disjoint_children():
    assert self_time(0.0, 10.0, [(1.0, 2.0), (5.0, 8.0)]) == pytest.approx(6.0)


def test_self_time_counts_overlapping_children_once():
    assert self_time(0.0, 10.0, [(1.0, 4.0), (3.0, 6.0), (5.5, 7.0)]) == pytest.approx(4.0)


def test_self_time_clips_children_to_the_span():
    assert self_time(2.0, 6.0, [(0.0, 3.0), (5.0, 9.0), (7.0, 8.0)]) == pytest.approx(2.0)


class _Thing:
    def work(self, x):
        return x * 2

    def fail(self):
        raise RuntimeError("boom")


def test_nested_spans_record_parent_request_and_self_time(tmp_path):
    t = Tracer()
    t.enabled = True
    t.request = 7
    t.wrap(_Thing, "work", "thing.work", result=lambda v, thing, x: v + x)
    with t.span("outer"):
        assert _Thing().work(3) == 6
        assert _Thing().work(4) == 8
    t.uninstall()
    t.annotate()
    outer = next(s for s in t.spans if s["name"] == "outer")
    inner = [s for s in t.spans if s["name"] == "thing.work"]
    assert [s["parent"] for s in inner] == [outer["id"], outer["id"]]
    assert [s["result"] for s in inner] == [9, 12]
    assert all(s["request"] == 7 for s in t.spans)
    covered = sum(s["end"] - s["start"] for s in inner)
    assert outer["self_s"] == pytest.approx(outer["end"] - outer["start"] - covered)
    assert _Thing.work.__name__ == "work" and not hasattr(_Thing.work, "__wrapped__")
    t.dump(str(tmp_path / "spans.jsonl"))
    rows = [json.loads(line) for line in open(tmp_path / "spans.jsonl")]
    assert [r["name"] for r in rows] == ["outer", "thing.work", "thing.work"]


def test_disabled_tracer_records_nothing_and_errors_are_marked():
    t = Tracer()
    t.wrap(_Thing, "fail", "thing.fail")
    with pytest.raises(RuntimeError):
        _Thing().fail()
    assert t.spans == []
    t.enabled = True
    with pytest.raises(RuntimeError):
        _Thing().fail()
    t.uninstall()
    assert [s["error"] for s in t.spans] == [True]
