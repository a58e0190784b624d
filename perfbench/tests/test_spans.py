import pytest

from spans import Tracer, covered, layout_phases, self_times, Span


def test_covered_merges_overlaps_and_clips():
    assert covered([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert covered([(-5, 1), (9, 20)], 0, 10) == 2
    assert covered([], 0, 10) == 0


def test_self_time_subtracts_union_of_children():
    spans = [
        Span(1, "parent", 0.0, 10.0, None, "r"),
        Span(2, "a", 1.0, 4.0, 1, "r"),
        Span(3, "b", 3.0, 6.0, 1, "r"),   # overlaps a: counted once
        Span(4, "c", 5.5, 6.5, 3, "r"),   # grandchild: only b's self time
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(10 - 5)
    assert st[3] == pytest.approx(3 - 0.5)
    assert st[2] == pytest.approx(3)


def test_overlapping_build_phases():
    phases = {"docs_count": 1.0, "docs_write": 2.0, "first_turn_terms": 0.5,
              "postings": 3.0, "finalize_stats": 4.0,
              "ledger_metrics": 1.5, "finalize_norms": 3.5}
    seq = ["docs_count", "docs_write", "first_turn_terms", "postings", "finalize_stats"]
    iv = {n: (s, e) for n, s, e in layout_phases(100.0, phases, seq,
                                                  {"ledger_metrics": "<postings",
                                                   "finalize_norms": ">postings"})}
    assert iv["postings"] == (103.5, 106.5)
    assert iv["ledger_metrics"] == (105.0, 106.5)
    assert iv["finalize_norms"] == (106.5, 110.0)
    # a 12 s build: the phases cover 10.5 s once; summing would give 15.5
    parent = Span(1, "build.s", 100.0, 112.0, None, None)
    kids = [Span(i + 2, n, s, e, 1, None) for i, (n, (s, e)) in enumerate(iv.items())]
    assert self_times([parent, *kids])[1] == pytest.approx(12.0 - 10.5)


def test_tracer_wraps_records_parents_and_restores():
    import types

    tr = Tracer()
    ns = types.SimpleNamespace()
    ns.inner = lambda x: x + 1
    ns.outer = lambda x: ns.inner(x) * 2
    orig_inner = ns.inner
    tr.wrap(ns, "inner", "inner")
    tr.wrap(ns, "outer", "outer", after=lambda sp, out, a, k: sp.attrs.update(out=out),
            before=lambda sp, a, k: sp.attrs.update(arg=a[0]))
    tr.set_rid("q1")
    assert ns.outer(1) == 4
    tr.restore()
    assert ns.inner is orig_inner
    outer, = tr.by_name("outer")
    inner, = tr.by_name("inner")
    assert inner.parent == outer.sid and outer.parent is None
    assert inner.rid == outer.rid == "q1"
    assert outer.attrs == {"arg": 1, "out": 4}
    assert outer.start <= inner.start <= inner.end <= outer.end
