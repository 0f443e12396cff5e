import pytest

from lhbench.tracing import Span, Tracer, covered, layer_self_by_op, self_times


class FakeClock:
    def __init__(self):
        self.t = 0.0

    def __call__(self):
        return self.t


def test_self_time_of_nested_spans():
    clock = FakeClock()
    tr = Tracer(enabled=True, clock=clock)
    with tr.span("bench.query", op="op1"):          # 0 .. 10
        clock.t = 1.0
        with tr.span("queries.k"):                  # 1 .. 4
            clock.t = 2.0
            with tr.span("tableformat.read"):       # 2 .. 3
                clock.t = 3.0
            clock.t = 4.0
        clock.t = 6.0
        with tr.span("spark.execute"):              # 6 .. 9
            clock.t = 9.0
        clock.t = 10.0
    by_name = {s.name: s for s in tr.spans}
    own = self_times(tr.spans)
    assert own[by_name["tableformat.read"].sid] == 1.0
    assert own[by_name["queries.k"].sid] == 2.0
    assert own[by_name["spark.execute"].sid] == 3.0
    assert own[by_name["bench.query"].sid] == 4.0   # the untraced gaps
    assert {s.op for s in tr.spans} == {"op1"}
    layers = layer_self_by_op(tr.spans)["op1"]
    assert layers == {"bench": 4.0, "queries": 2.0, "tableformat": 1.0,
                      "spark": 3.0}
    # layer self times plus the gaps add up to the op's wall time
    assert sum(layers.values()) == pytest.approx(10.0)


def test_overlapping_children_are_counted_once():
    spans = [Span(1, "bench.refresh", 0.0, 10.0, None, "a"),
             Span(2, "streaming.x", 1.0, 5.0, 1, "a"),
             Span(3, "spark.y", 4.0, 7.0, 1, "a"),
             Span(4, "spark.z", 9.0, 12.0, 1, "a")]   # runs past its parent
    own = self_times(spans)
    assert own[1] == pytest.approx(10.0 - 6.0 - 1.0)
    assert covered([(0, 1), (0.5, 2), (3, 4)], 0, 10) == 3.0
    assert covered([(5, 6)], 0, 1) == 0.0


def test_disabled_tracer_records_nothing():
    tr = Tracer(enabled=False)
    with tr.span("bench.query", op="x"):
        with tr.span("queries.k"):
            pass
    assert tr.spans == []


def test_ops_on_separate_threads_keep_their_own_parents():
    import threading

    tr = Tracer(enabled=True)

    def work(op):
        with tr.span("bench.op", op=op):
            with tr.span("spark.collect"):
                pass

    ths = [threading.Thread(target=work, args=(f"op{i}",)) for i in range(4)]
    for t in ths:
        t.start()
    for t in ths:
        t.join()
    roots = {s.sid: s.op for s in tr.spans if s.parent is None}
    for s in tr.spans:
        if s.parent is not None:
            assert roots[s.parent] == s.op
