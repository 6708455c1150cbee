"""Spans and Spark counters recorded from outside the engine.

Spans are timed around calls into kineo_spark's public functions: the
benchmark calls some of them itself, and wraps the module attributes the
engine calls internally (``Engine.query`` calls the ``parse_query`` and
``rewrite`` names bound in ``kineo_spark.engine``) for the length of a
traced run. Each request runs in its own Spark job group; after the run
the UI's REST API (reachable when the program starts with KINEO_UI=1)
maps every job to its group, its submission and completion times and
its stages, so jobs are attributed to requests and, by time, to spans.
Untraced requests set no job group and record no span.
"""

from __future__ import annotations

import functools
import json
import os
import time
import urllib.request
from contextlib import contextmanager
from datetime import datetime


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled  # off again once the timed phase ends
        self.spans: list[dict] = []
        self.req: str | None = None
        self._stack: list[int] = []
        self._patched: list[tuple] = []
        self.sc = None

    @contextmanager
    def request(self, req_id: str, label: str):
        """One closed-loop request, in its own Spark job group."""
        if not self.enabled:
            yield
            return
        self.req = req_id
        self.sc.setJobGroup(req_id, label)
        try:
            with self.span("request", label=label):
                yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.req = None

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        rec = {"id": len(self.spans), "name": name, "req": self.req,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a spanned wrapper until unwrap_all."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def spanned(*a, **kw):
            with self.span(name):
                return orig(*a, **kw)

        setattr(owner, attr, spanned)
        self._patched.append((owner, attr, orig))

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec) + "\n")


def wrap_engine(tracer: Tracer) -> None:
    """Spans at the SPARQL and update layer boundaries."""
    import kineo_spark.engine as engine
    import kineo_spark.update as update

    tracer.wrap(engine, "parse_query", "sparql_parser.parse")
    tracer.wrap(engine, "rewrite", "rewrite.rewrite")
    tracer.wrap(engine.Engine, "evaluate", "compiler.evaluate")
    tracer.wrap(engine.Engine, "serialize", "serializers.serialize")
    tracer.wrap(update.GraphStore, "update", "update.update")
    tracer.wrap(update, "parse_update", "sparql_parser.parse_update")
    tracer.wrap(update, "rewrite", "rewrite.rewrite")
    tracer.wrap(update, "apply_op", "update.apply_op")


def _epoch(ts: str | None) -> float | None:
    # the REST API writes e.g. "2026-10-16T23:01:02.123GMT"
    if not ts:
        return None
    return datetime.strptime(ts.replace("GMT", "+0000"),
                             "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


def _get(url: str):
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.load(r)


def spark_jobs(sc) -> list[dict]:
    """Every retained job of the live application: id, group, submit and
    completion time (epoch s), tasks run and shuffle bytes written."""
    base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
    stages: dict[int, dict] = {}
    for s in _get(f"{base}/stages"):
        if s.get("status") != "COMPLETE":
            continue  # skipped stages ran nothing
        agg = stages.setdefault(s["stageId"], {"tasks": 0, "shuffle": 0})
        agg["tasks"] += s.get("numCompleteTasks", 0)
        agg["shuffle"] += s.get("shuffleWriteBytes", 0)
    jobs = []
    for j in _get(f"{base}/jobs"):
        st = [stages[s] for s in j.get("stageIds", []) if s in stages]
        jobs.append({
            "id": j["jobId"], "group": j.get("jobGroup"),
            "submit": _epoch(j.get("submissionTime")),
            "end": _epoch(j.get("completionTime")),
            "tasks": sum(s["tasks"] for s in st),
            "shuffle_bytes": sum(s["shuffle"] for s in st),
        })
    return jobs


def jvm_gc_seconds(sc) -> float:
    """Total collection time of every JVM garbage collector. Local mode
    runs the driver and the executors in this one JVM."""
    beans = sc._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0


def peak_rss_mb(pids) -> float:
    """Sum of VmHWM (peak resident set) over the given processes."""
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024.0
