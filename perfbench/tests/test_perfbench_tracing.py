"""Span bookkeeping and self-time arithmetic."""

from tracing import Span, Tracer, layer_self_times, self_times


def test_self_time_subtracts_the_union_of_children():
    spans = [
        Span(0, None, "lap", 0.0, 10.0),
        Span(1, 0, "operators.build", 1.0, 3.0),
        Span(2, 0, "spark.exec", 2.0, 5.0),      # overlaps the first child
        Span(3, 0, "spark.exec", 8.0, 12.0),     # runs past the parent's end
        Span(4, 2, "streaming.batch", 2.5, 3.0),
    ]
    own = self_times(spans)
    assert own[0] == 10.0 - (4.0 + 2.0)          # covered: [1, 5] and [8, 10]
    assert own[1] == 2.0
    assert own[2] == 3.0 - 0.5
    assert own[3] == 4.0
    assert own[4] == 0.5
    layers = layer_self_times(spans)
    assert layers == {"lap": 4.0, "operators": 2.0, "spark": 6.5, "streaming": 0.5}
    # self times partition the root's wall time in a well-nested tree
    nested = [
        Span(0, None, "lap", 0.0, 10.0),
        Span(1, 0, "operators.build", 1.0, 3.0),
        Span(2, 0, "spark.exec", 4.0, 6.0),
        Span(3, 2, "streaming.batch", 4.5, 5.0),
    ]
    assert sum(self_times(nested).values()) == 10.0


def test_tracer_records_only_while_active():
    tr = Tracer()
    with tr.span("lap"):
        pass
    assert tr.spans == []
    tr.active = True
    with tr.span("lap"):
        with tr.span("op.x"):
            tr.record("streaming.batch", 0.0, 0.0)
    assert [(s.name, s.parent) for s in tr.spans] == [
        ("lap", None), ("op.x", 0), ("streaming.batch", 1)]
    assert all(s.end >= s.start for s in tr.spans[:2])
    assert tr.spans[1].layer == "op"
