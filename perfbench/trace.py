"""In-memory spans around the benchmark's calls into the package, and the
Spark counters of each op read from the status stores (both work with the
Spark UI off).

A span records name (the layer), the function called, start, end, parent
span and op id. A layer's self time is the time of its spans minus the
time of their child spans. Each op runs under its own Spark job group, so
the jobs, stages and SQL executions it caused can be found afterwards.
"""

from __future__ import annotations

import functools
import json
import time
from collections import defaultdict
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._patched: list[tuple[object, str, object]] = []
        self.op: str | None = None

    @contextmanager
    def span(self, layer: str, fn: str = ""):
        rec = {
            "id": len(self.spans),
            "name": layer,
            "fn": fn,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "op": self.op,
            "start": time.perf_counter(),
            "end": None,
            "child_s": 0.0,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._stack:
                self._stack[-1]["child_s"] += rec["end"] - rec["start"]

    def patch(self, owner, attr: str, make) -> None:
        """Replace `owner.attr` (a module attribute or dict entry) by
        `make(original)` until `unwrap_all`."""
        is_dict = isinstance(owner, dict)
        orig = owner[attr] if is_dict else getattr(owner, attr)
        new = functools.wraps(orig)(make(orig))
        if is_dict:
            owner[attr] = new
        else:
            setattr(owner, attr, new)
        self._patched.append((owner, attr, orig))

    def wrap(self, owner, attr: str, layer: str, tag=None) -> None:
        """Record a span around each call of `owner.attr`; `tag(args)` may
        add fields to the span."""

        def make(orig):
            def traced(*args, **kwargs):
                with self.span(layer, attr) as rec:
                    if tag is not None:
                        rec.update(tag(args))
                    return orig(*args, **kwargs)

            return traced

        self.patch(owner, attr, make)

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            if isinstance(owner, dict):
                owner[attr] = orig
            else:
                setattr(owner, attr, orig)
        self._patched.clear()

    def self_s(self, op_prefix: str | None = None) -> dict[str, float]:
        """Self time per layer, over the spans of ops starting with
        `op_prefix` (all spans when None)."""
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if s["end"] is None:
                continue
            if op_prefix is not None and not (s["op"] or "").startswith(op_prefix):
                continue
            out[s["name"]] += (s["end"] - s["start"]) - s["child_s"]
        return dict(out)

    def total_s(self, layer: str, fn: str, op_prefix: str) -> float:
        return sum(
            s["end"] - s["start"]
            for s in self.spans
            if s["name"] == layer and s["fn"] == fn and (s["op"] or "").startswith(op_prefix)
        )

    def probe_s(self, op_prefix: str) -> float:
        """Time of the spans marked `probe` in ops starting with `op_prefix`."""
        return sum(
            s["end"] - s["start"]
            for s in self.spans
            if s.get("probe") and (s["op"] or "").startswith(op_prefix)
        )

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f)


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


class SparkCounters:
    """Job, stage and SQL-operator counters of one job group."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()

    @contextmanager
    def group(self, gid: str):
        self.sc.setJobGroup(gid, gid)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def read(self, gid: str) -> dict:
        self._jsc.listenerBus().waitUntilEmpty()
        store = self._jsc.statusStore()
        jobs = list(self.sc.statusTracker().getJobIdsForGroup(gid))
        c = defaultdict(float)
        c["jobs"] = len(jobs)
        for j in jobs:
            for sid in _seq(store.job(j).stageIds()):
                try:
                    sd = store.lastStageAttempt(sid)
                except Py4JJavaError:  # a skipped stage has no attempt
                    continue
                c["stages"] += 1
                c["tasks"] += sd.numTasks()
                c["executor_run_s"] += sd.executorRunTime() / 1000
                c["shuffle_bytes"] += sd.shuffleWriteBytes()
                c["spill_bytes"] += sd.diskBytesSpilled()
                c["gc_s"] += sd.jvmGcTime() / 1000
                c["input_bytes"] += sd.inputBytes()
                c["output_bytes"] += sd.outputBytes()
        c.update(self._sql_metrics(set(jobs)))
        return dict(c)

    def _sql_metrics(self, jobs: set[int]) -> dict:
        """Files read by parquet scans and files written by inserts, from
        the SQL executions whose jobs belong to the group."""
        sql = self.spark._jsparkSession.sharedState().statusStore()
        out = defaultdict(float)
        for e in _seq(sql.executionsList()):
            it = e.jobs().keys().iterator()
            ejobs = set()
            while it.hasNext():
                ejobs.add(it.next())
            if not ejobs & jobs:
                continue
            values = sql.executionMetrics(e.executionId())
            for node in _seq(sql.planGraph(e.executionId()).allNodes()):
                for m in _seq(node.metrics()):
                    key = {
                        "number of files read": "files_read",
                        "number of written files": "files_written",
                    }.get(m.name())
                    if key is None:
                        continue
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        out[key] += float(v.get().replace(",", ""))
        return dict(out)
