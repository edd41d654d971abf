"""Span arithmetic on hand-built span sets.

    python3 -m pytest perfbench/test_spans.py
"""

import os
import sys
import threading

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import spans as sp  # noqa: E402


def _span(i, name, layer, start, end, parent=None):
    return sp.Span(i, name, layer, start, end, parent, "t", None)


def test_self_time_subtracts_the_union_of_children():
    root = _span(1, "batch", "root", 0.0, 10.0)
    kids = [
        _span(2, "merge", "multi_merge", 1.0, 3.0, 1),
        _span(3, "merge", "multi_merge", 2.0, 5.0, 1),  # overlaps on another thread
        _span(4, "table.commit", "table", 7.0, 8.0, 1),
        _span(5, "late", "table", 9.5, 12.0, 1),  # clipped to the root's end
    ]
    assert sp.covered(root, kids) == 5.5  # [1, 5] + [7, 8] + [9.5, 10]
    assert sp.self_time(root, kids) == 4.5
    assert sp.covered(root, kids, {"table.commit"}) == 1.0
    assert sp.root_balance([root] + kids) == 0.0


def test_layer_busy_counts_threads_wall_counts_once():
    spans = [
        _span(1, "merge", "multi_merge", 0.0, 4.0),
        _span(2, "table.commit", "table", 1.0, 3.0, 1),
        _span(3, "table.commit", "table", 2.0, 4.0, 1),
        _span(4, "table.compact", "table", 2.5, 3.5, 3),  # nested in its own layer
    ]
    assert sp.layer_busy_wall(spans, "table") == (4.0, 3.0)
    assert sp.layer_busy_wall(spans, "multi_merge") == (4.0, 4.0)


def test_spans_on_other_threads_adopt_the_open_root():
    tr = sp.Tracer()
    with tr.span("batch", "root", op="batch-0", adopt=True) as root:
        with tr.span("merge", "multi_merge", adopt=True) as merge:

            def commit():
                with tr.span("table.commit", "table"):
                    pass

            t = threading.Thread(target=commit)
            t.start()
            t.join(timeout=10)
            assert not t.is_alive()
    (commit_span,) = [s for s in tr.spans if s.name == "table.commit"]
    assert commit_span.parent == merge.id
    assert merge.parent == root.id
    assert commit_span.op == "batch-0"
    assert sp.root_balance(tr.spans) < 1e-9
