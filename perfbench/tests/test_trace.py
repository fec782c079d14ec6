from perfbench.trace import Span, Tracer, covered, self_times


def span(sid, layer, parent, start, end):
    return Span(sid, sid, layer, parent, "t", start, end)


def test_self_time_subtracts_children_once():
    # pass [0,10] -> op [1,9] -> construct [1,3], execute [4,8]
    spans = [
        span("pass", "benchmark", None, 0.0, 10.0),
        span("op", "operators.dedup", "pass", 1.0, 9.0),
        span("construct", "operators.dedup", "op", 1.0, 3.0),
        span("execute", "spark", "op", 4.0, 8.0),
    ]
    t = self_times(spans)
    assert t["benchmark"] == 2.0  # 10 - 8 covered by op
    assert t["operators.dedup"] == 2.0 + 2.0  # op's own 8-6, construct 2
    assert t["spark"] == 4.0
    assert sum(t.values()) == 10.0  # self times partition the root


def test_overlapping_children_are_not_double_counted():
    assert covered([(1.0, 4.0), (3.0, 6.0), (8.0, 12.0)], 0.0, 10.0) == 7.0
    spans = [
        span("root", "a", None, 0.0, 10.0),
        span("k1", "b", "root", 1.0, 4.0),
        span("k2", "b", "root", 3.0, 6.0),
    ]
    assert self_times(spans)["a"] == 5.0


def test_tracer_nests_and_shares_trace_ids():
    tr = Tracer(enabled=True)
    with tr.span("pass", "benchmark", new_trace=True):
        with tr.span("op", "x"):
            with tr.span("execute", "spark"):
                pass
    with tr.span("pass", "benchmark", new_trace=True):
        pass
    by_name = {}
    for s in tr.spans:
        by_name.setdefault(s.name, []).append(s)
    first, second = sorted(by_name["pass"], key=lambda s: s.start)
    (op,), (ex,) = by_name["op"], by_name["execute"]
    assert ex.parent == op.id and op.parent == first.id
    assert ex.trace == op.trace == first.trace != second.trace
    assert all(s.end >= s.start for s in tr.spans)


def test_disabled_tracer_records_nothing():
    tr = Tracer(enabled=False)
    with tr.span("pass", "benchmark") as s:
        assert s is None
    assert tr.spans == []
