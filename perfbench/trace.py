"""In-memory spans for the traced run.

A span is (name, start, end, parent, op): ``parent`` is the index of the
enclosing span on the same thread, ``op`` the id of the timed op it
belongs to. Spans are recorded around calls into the program's public
functions by wrappers this module installs at run time; nothing inside
the program changes. When the tracer is inactive a wrapper only checks a
flag and calls through, so the same process can alternate traced and
untraced ops to measure the tracing overhead.
"""

from __future__ import annotations

import functools
import json
import threading
import time

now = time.perf_counter


class Tracer:
    def __init__(self):
        self.spans: list[tuple] = []
        self.counts: list[tuple] = []
        self.active = False
        self._lock = threading.Lock()
        self._tls = threading.local()

    # -- per-thread context ------------------------------------------------
    def _stack(self) -> list:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    def set_op(self, op) -> None:
        """Tag spans recorded on this thread with ``op`` from now on."""
        self._tls.op = op

    def record(self, name: str, t0: float, t1: float, op=None,
               parent: int | None = None) -> int:
        if op is None:
            op = getattr(self._tls, "op", None)
        with self._lock:
            self.spans.append((name, t0, t1, parent, op))
            return len(self.spans) - 1

    def count(self, name: str, value, op=None) -> None:
        """Record a count (bytes, rows, ...) at a layer boundary."""
        if op is None:
            op = getattr(self._tls, "op", None)
        with self._lock:
            self.counts.append((name, value, op))

    def call(self, name: str, fn, *args, **kw):
        """Run ``fn`` inside a span called ``name``."""
        if not self.active:
            return fn(*args, **kw)
        st = self._stack()
        op = getattr(self._tls, "op", None)
        parent = st[-1] if st else None
        t0 = now()
        idx = self.record(name, t0, t0, op, parent)  # reserve the slot
        st.append(idx)
        try:
            return fn(*args, **kw)
        finally:
            st.pop()
            self.spans[idx] = (name, t0, now(), parent, op)

    def wrap(self, owner, attr: str, name: str, outer_only: bool = False):
        """Replace ``owner.attr`` by a span-recording wrapper. With
        ``outer_only``, calls nested inside the outermost one (recursion)
        record nothing and pay only a flag check."""
        fn = getattr(owner, attr)
        inside = threading.local()

        @functools.wraps(fn)
        def wrapper(*args, **kw):
            if not outer_only:
                return self.call(name, fn, *args, **kw)
            if not self.active or getattr(inside, "on", False):
                return fn(*args, **kw)
            inside.on = True
            try:
                return self.call(name, fn, *args, **kw)
            finally:
                inside.on = False

        setattr(owner, attr, wrapper)
        return fn

    def dump(self, path: str, extra: dict | None = None) -> None:
        with open(path, "w") as f:
            if extra:
                f.write(json.dumps({"meta": extra}) + "\n")
            for name, t0, t1, parent, op in self.spans:
                f.write(json.dumps({"name": name, "start": t0, "end": t1,
                                    "parent": parent, "op": op}) + "\n")
            for name, value, op in self.counts:
                f.write(json.dumps({"count": name, "value": value,
                                    "op": op}) + "\n")


def load(path: str) -> tuple[dict, list, list]:
    """(meta, spans, counts) back from a :meth:`Tracer.dump` file."""
    meta, spans, counts = {}, [], []
    with open(path) as f:
        for line in f:
            rec = json.loads(line)
            if "meta" in rec:
                meta = rec["meta"]
            elif "count" in rec:
                counts.append((rec["count"], rec["value"], rec["op"]))
            else:
                spans.append((rec["name"], rec["start"], rec["end"],
                              rec["parent"], rec["op"]))
    return meta, spans, counts


def by_op(spans) -> dict:
    """{op: {name: (total seconds, self seconds, count)}} for spans that
    carry an op id; self time is the duration minus direct children."""
    child_sum: dict[int, float] = {}
    for name, t0, t1, parent, op in spans:
        if parent is not None:
            child_sum[parent] = child_sum.get(parent, 0.0) + (t1 - t0)
    out: dict = {}
    for i, (name, t0, t1, parent, op) in enumerate(spans):
        if op is None:
            continue
        tot, slf, n = out.setdefault(op, {}).get(name, (0.0, 0.0, 0))
        d = t1 - t0
        out[op][name] = (tot + d, slf + d - child_sum.get(i, 0.0), n + 1)
    return out


def mean_over(ops: dict, keys, name: str, field: int = 0) -> float:
    """Mean over ``keys`` of ops[k][name][field] (0 when absent)."""
    keys = list(keys)
    if not keys:
        return 0.0
    return sum(ops.get(k, {}).get(name, (0.0, 0.0, 0))[field]
               for k in keys) / len(keys)
