"""Self time on nested and overlapping spans."""

from spans import Recorder, Span, covered, self_times


def span(i, start, end, parent=None):
    return Span(i, f"s{i}", start, end, parent, 0, "t")


def test_covered_merges_overlaps_and_clips():
    assert covered([], 0, 10) == 0
    assert covered([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    assert covered([(-5, 2), (9, 20)], 0, 10) == 3
    assert covered([(1, 9), (2, 3)], 0, 10) == 8


def test_self_time_subtracts_children():
    spans = [span(1, 0, 10), span(2, 1, 4, 1), span(3, 5, 6, 1), span(4, 2, 3, 2)]
    st = self_times(spans)
    assert st == {1: 6, 2: 2, 3: 1, 4: 1}


def test_self_time_counts_overlapping_children_once():
    # two children on different threads overlap during [3, 5]
    spans = [span(1, 0, 10), span(2, 2, 5, 1), span(3, 3, 8, 1)]
    assert self_times(spans)[1] == 10 - 6


def test_child_outliving_parent_is_clipped():
    spans = [span(1, 0, 4), span(2, 3, 9, 1)]
    assert self_times(spans)[1] == 3


def test_open_spans_are_skipped():
    spans = [span(1, 0, 4), span(2, 1, None, 1)]
    assert self_times(spans) == {1: 4}


def test_recorder_parents_worker_thread_spans_on_client_span():
    import threading

    rec = Recorder()
    rec.active = True
    with rec.span("op") as op:
        t = threading.Thread(target=lambda: rec.close(rec.open("worker")))
        t.start()
        t.join(timeout=10)
        assert not t.is_alive()
        with rec.span("inner") as inner:
            pass
    by_name = {s.name: s for s in rec.spans}
    assert by_name["worker"].parent == op.id
    assert by_name["worker"].thread != by_name["op"].thread
    assert inner.parent == op.id
    assert op.parent is None and op.end >= inner.end


def test_inactive_recorder_records_nothing():
    rec = Recorder()
    with rec.span("op") as s:
        assert s is None
    assert rec.spans == []


def test_dump_writes_each_span_with_its_self_time(tmp_path):
    import json

    rec = Recorder()
    rec.spans = [span(1, 0, 10), span(2, 2, 5, 1), span(3, 3, 8, 1)]
    rec.dump(tmp_path / "spans.json")
    out = json.loads((tmp_path / "spans.json").read_text())
    assert [(s["id"], s["parent"], s["self_s"]) for s in out] == [
        (1, None, 4), (2, 1, 3), (3, 1, 5)
    ]


def test_counters_skip_inactive_recorder_and_the_tracers_own_calls():
    from layers import Counters

    rec, c = Recorder(), Counters()
    c.bump(rec, "py4j")  # recorder off
    rec.active = True
    with rec.span("op") as op:
        c.bump(rec, "py4j")
        with c.uncounted():
            c.bump(rec, "py4j")
        c.bump(rec, "py4j")
    assert c.by_span == {op.id: {"py4j": 2}}
