"""Span recording and the self-time calculation."""

import pytest

from perfbench.spans import Tracer, layer_of, self_time_by_layer, self_times


def span(sid, name, start, end, parent=None):
    return {"id": sid, "name": name, "start": start, "end": end, "parent": parent}


def test_self_time_subtracts_children():
    spans = [
        span(1, "op.search", 0.0, 10.0),
        span(2, "search.collection_topk", 1.0, 4.0, parent=1),
        span(3, "ingest.upsert_collection", 5.0, 9.0, parent=1),
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(3.0)
    assert st[2] == pytest.approx(3.0)
    assert st[3] == pytest.approx(4.0)


def test_self_time_counts_overlapping_children_once():
    spans = [
        span(1, "rag.answer", 0.0, 10.0),
        span(2, "functions.embed", 2.0, 6.0, parent=1),
        span(3, "search.knn_join", 4.0, 8.0, parent=1),  # overlaps 4..6
    ]
    assert self_times(spans)[1] == pytest.approx(4.0)  # 10 - |2..8|


def test_self_time_ignores_child_time_outside_parent():
    spans = [span(1, "a", 0.0, 5.0), span(2, "b", 3.0, 9.0, parent=1)]
    assert self_times(spans)[1] == pytest.approx(3.0)


def test_self_time_only_direct_children():
    spans = [
        span(1, "op.questions", 0.0, 10.0),
        span(2, "rag.answer", 0.0, 9.0, parent=1),
        span(3, "search.knn_join", 1.0, 5.0, parent=2),
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(1.0)
    assert st[2] == pytest.approx(5.0)
    assert st[3] == pytest.approx(4.0)
    # self times of a tree add up to the root's duration
    assert sum(st.values()) == pytest.approx(10.0)


def test_layers():
    assert layer_of("functions.embed") == "functions.embed"
    assert layer_of("search.knn_join") == "search"
    assert layer_of("session.get_spark") == "session"
    spans = [
        span(1, "op.knn", 0.0, 4.0),
        span(2, "search.knn_join", 0.0, 3.0, parent=1),
        span(3, "search.collection_topk", 5.0, 6.0),
    ]
    assert self_time_by_layer(spans) == pytest.approx({"op": 1.0, "search": 4.0})


def test_tracer_records_parent_and_trace():
    tr = Tracer(True)
    with tr.span("op.search"):
        with tr.span("search.collection_topk", rows=3):
            pass
    with tr.span("op.search"):
        pass
    child = tr.by_name("search.collection_topk")[0]
    roots = tr.by_name("op.search")
    assert child["parent"] == roots[0]["id"]
    assert child["trace"] == roots[0]["trace"] == roots[0]["id"]
    assert roots[1]["trace"] != roots[0]["trace"]
    assert child["attrs"] == {"rows": 3}
    assert all(s["start"] <= s["end"] for s in tr.spans)


def test_disabled_tracer_records_nothing():
    tr = Tracer(False)
    with tr.span("op.search") as rec:
        assert rec is None
    tr.add("streaming.batch", 0.0, 1.0)
    assert tr.spans == []
