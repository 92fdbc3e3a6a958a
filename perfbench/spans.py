"""In-memory span tracer that wraps the engine's public layer functions
from outside ``dlt_spark`` (nothing inside the engine is instrumented).

A span is ``{id, name, parent, t0, t1}`` (monotonic seconds).  Its parent is the
innermost open span on the same thread; on a thread with no open span
(the runner's prepare and gap pools) it is the active runner span, so
pipelined prepares still nest under the ``run_incremental`` call that
scheduled them.

``run_incremental`` imports ``open_change_log`` and ``dedup_lww`` by
name, so those are patched on ``dlt_spark.plans.runner``; layer methods
are patched on their classes.  ``normalize`` and ``dedup_lww`` only
build plans (Spark is lazy), so their spans are driver plan-build time;
the executed job shows up inside ``prepare_delta``.
"""

from __future__ import annotations

import functools
import statistics
import threading
import time
from contextlib import contextmanager

# (module or class, attribute, span name)
_TARGETS = [
    ("dlt_spark.plans.runner", "open_change_log", "changelog.open"),
    ("dlt_spark.plans.runner", "dedup_lww", "dedup"),
    ("dlt_spark.adapters:TokensAdapter", "normalize", "normalize"),
    ("dlt_spark.adapters:ExplodedAdapter", "normalize", "normalize"),
    ("dlt_spark.adapters:ExplodedAdapter", "expand_deletes", "adapters.expand_deletes"),
    ("dlt_spark.lakehouse:LakehouseTable", "prepare_delta", "lakehouse.prepare_delta"),
    ("dlt_spark.lakehouse:LakehouseTable", "prepare_markers", "lakehouse.prepare_markers"),
    ("dlt_spark.lakehouse:LakehouseTable", "commit_delta", "lakehouse.commit_delta"),
    ("dlt_spark.lakehouse:LakehouseTable", "fold_pending", "lakehouse.fold_pending"),
    # the L0->L1 fold both the commit path and fold_pending() run
    ("dlt_spark.lakehouse:LakehouseTable", "_fold_and_maybe_major", "lakehouse.fold"),
    ("dlt_spark.lakehouse:LakehouseTable", "read", "lakehouse.read"),
    ("dlt_spark.lakehouse:LakehouseTable", "changes_between", "lakehouse.changes"),
]


def _resolve(target: str):
    import importlib

    mod, _, cls = target.partition(":")
    obj = importlib.import_module(mod)
    return getattr(obj, cls) if cls else obj


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._run_span: int | None = None
        self._patches: list[tuple[object, str, object]] = []
        self.enabled = False

    @contextmanager
    def span(self, name: str):
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        parent = stack[-1] if stack else self._run_span
        with self._lock:
            sid = len(self.spans)
            rec = {"id": sid, "name": name, "parent": parent,
                   "t0": time.monotonic(), "t1": None}
            self.spans.append(rec)
        stack.append(sid)
        try:
            yield rec
        finally:
            stack.pop()
            rec["t1"] = time.monotonic()

    @contextmanager
    def run_span(self, name: str):
        """A span that adopts spans from threads with no open span."""
        with self.span(name) as rec:
            self._run_span = rec["id"]
            try:
                yield rec
            finally:
                self._run_span = None

    def install(self) -> list[str]:
        """Wrap every target; returns the targets the engine lacks (their
        spans, and the metrics built from them, then read 0)."""
        missing = []
        for target, attr, name in _TARGETS:
            owner = _resolve(target)
            orig = owner.__dict__.get(attr)
            if orig is None:
                missing.append(f"{target}.{attr}")
                continue
            self._patches.append((owner, attr, orig))
            setattr(owner, attr, self._wrap(orig, name))
        return missing

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    def _wrap(self, fn, name):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            with self.span(name):
                return fn(*args, **kwargs)

        return wrapper

    # ------------------------------------------------------------------
    # analysis
    # ------------------------------------------------------------------
    def _named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and s["t1"]]

    def total(self, name: str) -> float:
        return sum(s["t1"] - s["t0"] for s in self._named(name))

    def count(self, name: str) -> int:
        return len(self._named(name))

    def longest(self, name: str) -> float:
        return max((s["t1"] - s["t0"] for s in self._named(name)), default=0.0)

    def median(self, name: str) -> float:
        d = [s["t1"] - s["t0"] for s in self._named(name)]
        return statistics.median(d) if d else 0.0

    def self_times(self) -> dict[str, tuple[int, float, float]]:
        """name -> (calls, total s, self s); self time is the span minus
        the union of its children's intervals clipped to it."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None and s["t1"]:
                kids.setdefault(s["parent"], []).append(s)
        out: dict[str, list] = {}
        for s in self.spans:
            if not s["t1"]:
                continue
            dur = s["t1"] - s["t0"]
            covered = _union(
                (max(c["t0"], s["t0"]), min(c["t1"], s["t1"]))
                for c in kids.get(s["id"], [])
            )
            acc = out.setdefault(s["name"], [0, 0.0, 0.0])
            acc[0] += 1
            acc[1] += dur
            acc[2] += dur - covered
        return {k: tuple(v) for k, v in out.items()}

    def commit_wait(self) -> float:
        """Sum over runner spans of the time the ordered commit loop
        waited for prepares: from the first prepare's start (its first
        ``normalize`` span) to the first ``commit_delta``, plus the gaps
        between consecutive ``commit_delta`` spans."""
        total = 0.0
        for run in self._named("runner.run"):
            kids = [s for s in self.spans if s["parent"] == run["id"] and s["t1"]]
            commits = sorted((s for s in kids if s["name"] == "lakehouse.commit_delta"),
                             key=lambda s: s["t0"])
            starts = [s["t0"] for s in kids if s["name"] == "normalize"]
            if not commits or not starts:
                continue
            total += max(0.0, commits[0]["t0"] - min(starts))
            total += sum(
                max(0.0, b["t0"] - a["t1"]) for a, b in zip(commits, commits[1:])
            )
        return total


def _union(intervals) -> float:
    total, end = 0.0, None
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total
