"""Spans around the calls the benchmark makes into each package layer.

The traced run wraps public entry points *by module attribute, from the
benchmark's own code* — the package itself is not instrumented. Spans are
held in memory and written once at exit. A span opened on a thread with no
open span of its own (``merge_many``'s commit pool) takes the innermost
open *adopting* span as its parent: the batch, read or query root, or
``merge_many``.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    layer: str
    start: float
    end: float
    parent: "int | None"
    thread: str
    op: "str | None"

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.counters: dict[str, float] = defaultdict(float)
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._adopters: list[Span] = []

    def count(self, name: str, n: float = 1) -> None:
        with self._lock:
            self.counters[name] += n

    @contextmanager
    def span(self, name: str, layer: str, op: "str | None" = None, adopt: bool = False):
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        with self._lock:
            parent = stack[-1] if stack else (self._adopters[-1] if self._adopters else None)
        s = Span(
            id=next(self._ids),
            name=name,
            layer=layer,
            start=time.perf_counter(),
            end=float("nan"),
            parent=parent.id if parent else None,
            thread=threading.current_thread().name,
            op=op if op is not None else (parent.op if parent else None),
        )
        stack.append(s)
        if adopt:
            with self._lock:
                self._adopters.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            stack.pop()
            with self._lock:
                if adopt:
                    self._adopters.remove(s)
                self.spans.append(s)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s.start):
                f.write(json.dumps(asdict(s)) + "\n")


# --- span arithmetic --------------------------------------------------------


def union_length(intervals) -> float:
    """Length of the union of ``(start, end)`` intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def children_of(spans: "list[Span]") -> "dict[int, list[Span]]":
    out: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            out[s.parent].append(s)
    return out


def covered(span: Span, kids: "list[Span]", names: "set[str] | None" = None) -> float:
    """The part of ``span``'s interval that its child spans cover (only
    children named in ``names``, when given), counted once however many
    threads overlap."""
    return union_length(
        (max(k.start, span.start), min(k.end, span.end))
        for k in kids
        if (names is None or k.name in names) and k.end > span.start and k.start < span.end
    )


def self_time(span: Span, kids: "list[Span]") -> float:
    """Duration minus the part of it the child spans cover."""
    return span.dur - covered(span, kids)


def layer_outer(spans: "list[Span]", layer: str) -> "list[Span]":
    """Spans of ``layer`` whose parent is not also in ``layer`` — so a
    layer's busy time does not count nested calls twice."""
    by_id = {s.id: s for s in spans}
    out = []
    for s in spans:
        parent = by_id.get(s.parent)
        if s.layer == layer and (parent is None or parent.layer != layer):
            out.append(s)
    return out


def layer_busy_wall(spans: "list[Span]", layer: str) -> "tuple[float, float]":
    """(busy seconds summed over threads, wall seconds covered by the union)."""
    outer = layer_outer(spans, layer)
    return sum(s.dur for s in outer), union_length((s.start, s.end) for s in outer)


def root_balance(spans: "list[Span]") -> float:
    """Largest |self + covered-by-children - duration| over root spans (0
    up to float rounding when the arithmetic holds)."""
    kids = children_of(spans)
    worst = 0.0
    for s in spans:
        if s.parent is None:
            k = kids.get(s.id, [])
            worst = max(worst, abs(self_time(s, k) + covered(s, k) - s.dur))
    return worst


# --- wrapping the package's entry points -------------------------------------


def _wrap_fn(tracer: Tracer, fn, name: str, layer: str, after=None, adopt=False):
    @functools.wraps(fn)
    def wrapper(*a, **kw):
        with tracer.span(name, layer, adopt=adopt):
            try:
                out = fn(*a, **kw)
            except FileExistsError:
                tracer.count(f"{name}.conflicts")
                raise
        if after is not None:
            after(a, kw, out)
        return out

    return wrapper


def install(tracer: Tracer):
    """Wrap the traced entry points; returns a function that restores them."""
    from multi_table_plugins_spark.lakehouse import fileio, multi_merge, snapshots, table
    from multi_table_plugins_spark.streaming import cdc_pipeline, lineage

    undo = []

    def patch(owner, attr, name, layer, after=None, adopt=False):
        raw = owner.__dict__.get(attr) if isinstance(owner, type) else None
        orig = getattr(owner, attr)
        if isinstance(raw, classmethod):
            new = classmethod(_wrap_fn(tracer, raw.__func__, name, layer, after, adopt))
        else:
            new = _wrap_fn(tracer, orig, name, layer, after, adopt)
        setattr(owner, attr, new)
        undo.append((owner, attr, raw if raw is not None else orig, raw is not None))

    def on_merge(a, kw, out):
        for t, m in out.items():
            if not t.startswith("_") and not m.get("skipped"):
                tracer.count("merge.files_staged", m.get("files_written", 0))
                tracer.count("merge.rows", m.get("rows_applied", 0))

    def on_lookup(a, kw, out):
        info = getattr(a[0], "last_scan_info", None) or {}
        tracer.count("table.lookup.files_read", info.get("files_read", 0))
        tracer.count("table.lookup.files_total", info.get("files_total", 0))

    def on_emit(a, kw, out):
        if (a[1] if len(a) > 1 else kw.get("record", {})).get("kind") == "fast_path_fallback":
            tracer.count("merge.fallbacks")

    patch(cdc_pipeline, "apply_cdc_batch", "stream.apply", "streaming")
    patch(lineage.LineageLog, "emit", "lineage.emit", "streaming", after=on_emit)
    patch(multi_merge, "merge_many", "merge", "multi_merge", after=on_merge, adopt=True)
    patch(snapshots, "publish_snapshot", "snapshots.publish", "snapshots")
    for m in ("commit_delta", "compact", "compact_deltas", "lookup_many", "get_or_create"):
        short = {"commit_delta": "commit", "lookup_many": "lookup"}.get(m, m)
        patch(table.LakeTable, m, f"table.{short}", "table",
              after=on_lookup if m == "lookup_many" else None)
    io_cls = type(fileio.get_fileio())
    for m in sorted(n for n in dir(io_cls) if not n.startswith("_") and callable(getattr(io_cls, n))):
        patch(io_cls, m, f"fileio.{m}", "fileio")

    def restore():
        for owner, attr, orig, was_raw in reversed(undo):
            if isinstance(owner, type) and not was_raw:
                # inherited method: drop the override instead of pinning it
                delattr(owner, attr)
            else:
                setattr(owner, attr, orig)

    return restore
