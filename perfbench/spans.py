"""In-memory span tracer that wraps the program's public functions from
outside, so the benchmark can split an op's wall time by layer without
touching program code.

A span carries a name, a start and end (wall clock, seconds), its
parent span and the op id. Spans stay in memory and are written out
once, when the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import inspect
import itertools
import json
import sys
import threading
import time
from dataclasses import asdict, dataclass

PACKAGE = "dht11_data_pipeline_spark"


@dataclass
class Span:
    sid: int
    name: str
    layer: str
    start: float
    end: float
    parent: int | None
    op: int | None


class Tracer:
    """Collects spans while ``active``; inactive wrappers call straight
    through, so the untimed checks between ops leave no spans."""

    def __init__(self):
        self.active = False
        self.op: int | None = None
        self.spans: list[Span] = []
        self.notes: list[str] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._main_stack: list[int] = []
        self._lock = threading.Lock()

    # -- span stack ----------------------------------------------------

    def _stack(self) -> list[int]:
        if threading.current_thread() is threading.main_thread():
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _parent(self, stack: list[int]) -> int | None:
        if stack:
            return stack[-1]
        # callbacks on other threads (foreachBatch) nest under whatever
        # the main thread is waiting in
        return self._main_stack[-1] if self._main_stack else None

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        if not self.active:
            yield
            return
        sp = self._open(name, layer)
        try:
            yield
        finally:
            self._close(sp)

    def _open(self, name: str, layer: str) -> Span:
        stack = self._stack()
        sp = Span(next(self._ids), name, layer, time.time(), 0.0,
                  self._parent(stack), self.op)
        stack.append(sp.sid)
        return sp

    def _close(self, sp: Span) -> None:
        sp.end = time.time()
        stack = self._stack()
        if stack and stack[-1] == sp.sid:
            stack.pop()
        with self._lock:
            self.spans.append(sp)

    # -- wrapping --------------------------------------------------------

    def wrap(self, fn, name: str, layer: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.active:
                return fn(*args, **kwargs)
            sp = tracer._open(name, layer)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer._close(sp)

        traced.__wrapped_by_perfbench__ = True
        return traced

    def install(self, targets) -> list[tuple]:
        """Wrap each ``(module, attr, layer)`` target. ``attr`` may be
        ``Class.method``. The wrapper replaces the function in its home
        module and in every program module that imported it by name.
        A target that no longer exists is skipped with a note.
        Returns undo records for :meth:`uninstall`."""
        undo = []
        for mod_name, attr, layer in targets:
            try:
                mod = importlib.import_module(mod_name)
                owner, leaf = _resolve_owner(mod, attr)
                fn = owner.__dict__[leaf]
            except (ImportError, AttributeError, KeyError):
                self.notes.append(f"skipped {mod_name}.{attr}: not found")
                continue
            if getattr(fn, "__wrapped_by_perfbench__", False):
                continue
            label = f"{mod_name.removeprefix(PACKAGE + '.')}.{attr}"
            wrapper = self.wrap(fn, label, layer)
            setattr(owner, leaf, wrapper)
            undo.append((owner, leaf, fn))
            if inspect.isclass(owner):
                continue
            for other in list(sys.modules.values()):
                name = getattr(other, "__name__", "") or ""
                if other is mod or not (name.startswith(PACKAGE)
                                        or name == "__spark_entry__"):
                    continue
                for k, v in list(vars(other).items()):
                    if v is fn:
                        setattr(other, k, wrapper)
                        undo.append((other, k, fn))
        return undo

    @staticmethod
    def uninstall(undo) -> None:
        for owner, leaf, fn in reversed(undo):
            setattr(owner, leaf, fn)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for sp in self.spans:
                fh.write(json.dumps(asdict(sp)) + "\n")


def _resolve_owner(mod, attr: str):
    parts = attr.split(".")
    owner = mod
    for p in parts[:-1]:
        owner = getattr(owner, p)
    if parts[-1] not in owner.__dict__:
        raise AttributeError(attr)
    return owner, parts[-1]


def public_driver_functions(mod_name: str) -> list[str]:
    """Public functions defined in ``mod_name`` whose first parameter is
    annotated as a DataFrame or SparkSession: the driver-side entry
    points. Functions that run inside Python workers (pandas / Arrow
    iterators) are left alone, so nothing traced is shipped to a
    worker."""
    try:
        mod = importlib.import_module(mod_name)
    except ImportError:
        return []
    out = []
    for name, fn in vars(mod).items():
        if (name.startswith("_") or not inspect.isfunction(fn)
                or fn.__module__ != mod_name):
            continue
        params = list(inspect.signature(fn).parameters.values())
        ann = str(params[0].annotation) if params else ""
        if "DataFrame" in ann or "SparkSession" in ann:
            out.append(name)
    return sorted(out)


# -- arithmetic ------------------------------------------------------------

def union_length(intervals) -> float:
    """Total length covered by ``(start, end)`` intervals."""
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


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> self time: its duration minus the part of its
    interval that its child spans cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for sp in spans:
        if sp.parent is not None:
            kids.setdefault(sp.parent, []).append((sp.start, sp.end))
    out = {}
    for sp in spans:
        clipped = [(max(s, sp.start), min(e, sp.end))
                   for s, e in kids.get(sp.sid, []) if e > sp.start and s < sp.end]
        out[sp.sid] = (sp.end - sp.start) - union_length(clipped)
    return out


def outermost(spans: list[Span], pred) -> list[Span]:
    """Spans matching ``pred`` that have no matching ancestor, so
    recursive or nested calls of one layer count once."""
    by_id = {sp.sid: sp for sp in spans}
    out = []
    for sp in spans:
        if not pred(sp):
            continue
        p = by_id.get(sp.parent) if sp.parent is not None else None
        nested = False
        while p is not None:
            if pred(p):
                nested = True
                break
            p = by_id.get(p.parent) if p.parent is not None else None
        if not nested:
            out.append(sp)
    return out
