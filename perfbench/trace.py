"""Spans, Spark job accounting and self times for the traced run.

Everything here is recorded from OUTSIDE the engine: the benchmark opens a
span around each call it makes into the engine's public API, and in a traced
run it also wraps a few module attributes the engine looks up at call time
(``DataFrame.collect``, ``search.parse_query``, ``SearchEngine._snippet_pair``)
so a request's wall time splits into planning, dictionary, match+score, doc
lookup and snippet parts. Spans stay in memory and are written out once, at
exit. With tracing off every hook is a no-op and nothing is patched.
"""

from __future__ import annotations

import json
import sys
import time
from contextlib import contextmanager


class Span:
    __slots__ = ("sid", "parent", "name", "op", "t0", "t1", "attrs")

    def __init__(self, sid, parent, name, op, t0, attrs):
        self.sid, self.parent, self.name, self.op = sid, parent, name, op
        self.t0, self.t1, self.attrs = t0, None, attrs

    @property
    def dur(self) -> float:
        return self.t1 - self.t0

    def to_json(self) -> dict:
        return {
            "id": self.sid, "parent": self.parent, "name": self.name,
            "op": self.op, "start": self.t0, "end": self.t1, **self.attrs,
        }


# Which part of a request a Spark action belongs to, keyed by the engine
# function that issued the collect (search.py). ``search`` issues two: the
# top-k reduce first, the doc-store point lookup second.
_COLLECT_LABELS = {"_dfs_of": "dict", "_run_general": "match_score", "_run_fast": "match_score"}


class Tracer:
    def __init__(self, enabled: bool, spark=None) -> None:
        self.enabled = enabled
        self.spark = spark
        self.spans: list[Span] = []
        self.ops: list[dict] = []
        self._stack: list[Span] = []
        self._patches: list[tuple[object, str, object]] = []
        self._collects_in_search = 0

    # ---- spans ---------------------------------------------------------

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(
            len(self.spans), parent.sid if parent else None, name,
            attrs.pop("op", parent.op if parent else None), time.perf_counter(), attrs,
        )
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.t1 = time.perf_counter()
            self._stack.pop()

    @contextmanager
    def op(self, kind: str, **attrs):
        """One engine call (build / refresh / compact / request / batch):
        a root span plus, when tracing, a Spark job group so its jobs and
        tasks can be counted afterwards."""
        if not self.enabled:
            yield None
            return
        op_id = f"{kind}-{len(self.ops)}"
        sc = self.spark.sparkContext
        tracker = sc.statusTracker()
        before = set(tracker.getJobIdsForGroup(None))
        sc.setJobGroup(op_id, kind)
        self._collects_in_search = 0
        try:
            with self.span(f"op.{kind}", op=op_id, **attrs) as s:
                yield s
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            # jobs started on threads the engine spawns (the build's
            # overlapped lineage agg) carry no group: attribute them to the
            # op that was running, since one closed-loop client runs one op
            # at a time
            ungrouped = set(tracker.getJobIdsForGroup(None)) - before
            self.ops.append({"id": op_id, "ungrouped": sorted(ungrouped)})

    # ---- wrappers installed for the traced run -------------------------

    def install(self) -> None:
        if not self.enabled:
            return
        from pdfsearch_spark import search as search_mod

        df_cls = type(self.spark.range(1))
        self._wrap(df_cls, "collect", self._collect_name)
        self._wrap(search_mod, "parse_query", lambda *_: "query.parser.parse_query")
        self._wrap(
            search_mod.SearchEngine, "_snippet_pair", lambda *_: "query.snippet.snippet_pair"
        )

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def _wrap(self, owner, attr: str, namer) -> None:
        orig = getattr(owner, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            name = namer(sys._getframe(1)) if tracer._stack else None
            if name is None:
                return orig(*args, **kwargs)
            with tracer.span(name):
                return orig(*args, **kwargs)

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def _collect_name(self, frame) -> str | None:
        fn = frame.f_code.co_name
        mod = frame.f_globals.get("__name__", "")
        if mod.startswith("perfbench."):
            # the client collecting the returned (driver-local) result:
            # part of the op's own time, not an engine action
            return None
        if mod != "pdfsearch_spark.search":
            return "spark.collect.other"
        if fn == "search":
            self._collects_in_search += 1
            label = "match_score" if self._collects_in_search == 1 else "lookup"
        else:
            label = _COLLECT_LABELS.get(fn, fn)
        return f"spark.collect.{label}"

    # ---- post-run accounting -------------------------------------------

    def job_counts(self) -> dict[str, dict]:
        """{op id: {jobs, tasks, tasks_failed}} from the status tracker. Read
        once after the run, when the listener bus has caught up."""
        if not self.enabled:
            return {}
        time.sleep(0.5)
        tracker = self.spark.sparkContext.statusTracker()
        out = {}
        for o in self.ops:
            jobs = set(tracker.getJobIdsForGroup(o["id"])) | set(o["ungrouped"])
            tasks = failed = 0
            for j in jobs:
                info = tracker.getJobInfo(j)
                for sid in info.stageIds if info else ():
                    st = tracker.getStageInfo(sid)
                    if st is not None:
                        tasks += st.numCompletedTasks
                        failed += st.numFailedTasks
            out[o["id"]] = {"jobs": len(jobs), "tasks": tasks, "tasks_failed": failed}
        return out

    def self_times(self) -> dict[str, float]:
        """Per span name: Σ (duration − time covered by its child spans)."""
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered = _union_length([(c.t0, c.t1) for c in kids.get(s.sid, ())])
            out[s.name] = out.get(s.name, 0.0) + s.dur - covered
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.to_json()) + "\n")


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total = 0.0
    end = float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total
