#!/usr/bin/env python3
"""Benchmark harness for kineo_spark.

    python3 perfbench/run.py --workload sparql_mixed --seed 1 --seconds 20 --trace 0

Run from the repository root. One process, one SparkSession on the
program's own defaults (``get_spark()``: local[os.cpu_count()] and its
driver-memory default; KINEO_DRIVER_MEM and SPARK_GRAFT_CPUS are
removed from the environment), one closed-loop client: the next request
is sent only after the previous one returned. The workload's inputs are
generated from ``--seed`` under perfbench/.work/, which the run deletes
again; Spark's scratch goes there too (SPARK_LOCAL_DIRS, TMPDIR).

Phases: input generation; set-up (``get_spark`` + the workload's stores
and views, ``setup_s``); the timed phase, a fixed number of whole rounds,
``--seconds`` divided by the workload's nominal round length (at least
one), starting right after set-up, so JIT warm-up is in it; then, outside
any timing, every output is checked against its oracle.

The report lists every metric by name with its unit and sample count;
the last line of standard output is the JSON result (end-to-end metrics
with ``--trace 0``, per-layer metrics with ``--trace 1``). A traced run
is the same run with spans and one Spark job group per request and the
Spark UI's REST API on (KINEO_UI=1); it writes the spans and the
per-layer detail under perfbench/.work/traces/. Tracing overhead is the
traced ``request_p50_s`` minus the untraced one for the same workload,
seed, scale and code; the report prints it when that untraced run was
made first.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

# str hashing decides set iteration order in the engine's planner; a
# fixed hash seed makes every run of a --seed plan the same way
if __name__ == "__main__" and os.environ.get("PYTHONHASHSEED") != "0":
    os.environ["PYTHONHASHSEED"] = "0"
    os.execv(sys.executable, [sys.executable, *sys.argv])
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import numpy as np  # noqa: E402

from tracing import Tracer, jvm_gc_seconds, peak_rss_mb, spark_jobs, wrap_engine  # noqa: E402
from workloads import STAGES, WORKLOADS  # noqa: E402

END_TO_END = [("setup_s", "s"), ("requests_per_s", "1/s")]
PER_LAYER = [("session.get_spark_s", "s"), ("setup.open_s", "s"),
             ("spark.gc_s", "s"), ("spark.jobs", "count"),
             ("spark.tasks", "count"), ("spark.shuffle_write_mb", "MB"),
             ("request.spark_busy_s", "s"), ("request.driver_only_s", "s"),
             ("trace.coverage", "ratio"), ("trace.request_p50_s", "s")]
RESULTS = os.path.join(HERE, ".work", "results")


def percentile_report(values: list[float]) -> dict:
    """Median, plus p90 / p99 where at least ten samples lie beyond."""
    out = {"n": len(values), "p50": statistics.median(values)}
    for p in (90, 99):
        if len(values) * (100 - p) / 100 >= 10:
            out[f"p{p}"] = statistics.quantiles(values, n=100)[p - 1]
    return out


def _union(intervals, lo: float, hi: float) -> float:
    """Length of the union of intervals, clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Run:
    def __init__(self, args):
        self.args = args
        self.work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
        self.tracer = Tracer(bool(args.trace))
        self.records: list[dict] = []
        self.report: list[tuple[str, float, str, str]] = []  # name, value, unit, note

    def note(self, name: str, value: float, unit: str, extra: str = "") -> None:
        self.report.append((name, value, unit, extra))

    # -- phases ------------------------------------------------------------
    def setup(self, get_spark) -> None:
        t0 = time.perf_counter()
        self.spark = get_spark("perfbench")
        t1 = time.perf_counter()
        self.opened = self.wl.open(self.spark) or {}
        t2 = time.perf_counter()
        self.session_s, self.open_s, self.setup_s = t1 - t0, t2 - t1, t2 - t0
        self.tracer.sc = self.spark.sparkContext
        self.pids = [os.getpid(), self.spark.sparkContext._gateway.proc.pid]

    def execute(self, op) -> None:
        rid = f"q{len(self.records)}"
        t0 = time.perf_counter()
        out, err = None, None
        try:
            with self.tracer.request(rid, op.label):
                out = op.run()
        except Exception:  # a failed request is counted, the loop goes on
            err = traceback.format_exc(limit=3)
        wall = time.perf_counter() - t0
        self.records.append({"id": rid, "op": op, "wall": wall,
                             "out": out, "error": err})

    def loop(self, rng) -> None:
        """A fixed number of whole rounds: --seconds over the workload's
        nominal round length, so every run on any host measures the same
        mix of cold and warm requests."""
        sc = self.spark.sparkContext
        gc0 = jvm_gc_seconds(sc)
        self.rounds = max(1, round(self.args.seconds / self.wl.round_s))
        t0 = time.perf_counter()
        for _ in range(self.rounds):
            for op in self.wl.round(rng):
                self.execute(op)
        self.timed_s = time.perf_counter() - t0
        self.gc_s = jvm_gc_seconds(sc) - gc0

    def check(self) -> None:
        """Outside any timing: every output against its oracle."""
        self.failures = []
        for r in self.records:
            err = r["error"]
            if err is None:
                try:
                    err = r["op"].check(r["out"])
                except Exception:
                    err = "check raised: " + traceback.format_exc(limit=3)
            if err:
                self.failures.append((r["op"].label, err))
        final = self.wl.final_checks()
        self.failures += [(label, err) for label, err in final if err]
        self.attempted = len(self.records) + len(final)

    # -- metrics -----------------------------------------------------------
    def end_to_end(self) -> dict:
        walls = [r["wall"] for r in self.records]
        m = {"setup_s": self.setup_s,
             "request_p50_s": statistics.median(walls),
             "requests_per_s": len(walls) / self.timed_s}
        self.note("setup_s", m["setup_s"], "s", "get_spark (JVM start) + open, one set-up")
        for kind, name in (("", "request"), ("query", "query"), ("update", "update")):
            ws = [r["wall"] for r in self.records if kind in ("", r["op"].kind)]
            if ws:
                pr = percentile_report(ws)
                for p in ("p50", "p90", "p99"):
                    if p in pr:
                        self.note(f"{name}_{p}_s", pr[p], "s", f"n={pr['n']}")
        self.note("requests_per_s", m["requests_per_s"], "1/s",
                  f"{len(walls)} requests in {self.timed_s:.3f} s, {self.rounds} round(s)")
        reads = [r for r in self.records if r["op"].kind == "query"]
        if reads:
            self.note("queries_per_s", len(reads) / self.timed_s, "1/s",
                      f"{len(reads)} reads; the writes' time is in the denominator")
        passes = [r for r in self.records if r["op"].kind == "pass"]
        if passes:
            docs = sum(r["op"].info["docs"] for r in passes)
            self.note("docs_per_s", docs / sum(r["wall"] for r in passes), "1/s",
                      f"{len(passes)} pass(es) of {passes[0]['op'].info['docs']} documents")
            self.note("dedup_recall", self.wl.recall_hits / self.wl.recall_total, "ratio",
                      f"{self.wl.recall_total} planted pairs with Jaccard >= 0.6")
        self.note("fail_ratio", len(self.failures) / self.attempted, "ratio",
                  f"{len(self.failures)} of {self.attempted} operations")
        self.note("peak_rss_mb", self.peak_rss, "MB",
                  "VmHWM, Python + driver JVM; follows the collector's heap sizing")
        by_t: dict[str, list[float]] = {}
        for r in self.records:
            by_t.setdefault(r["op"].label, []).append(r["wall"])
        for t, ws in by_t.items():
            self.note(f"latency_p50_s.{t}", statistics.median(ws), "s", f"n={len(ws)}")
        return m

    def per_layer(self, jobs: list[dict]) -> dict:
        by_req: dict[str, list[dict]] = {}
        for s in self.tracer.spans:
            by_req.setdefault(s["req"], []).append(s)
        jobs_by_group: dict[str, list[dict]] = {}
        for j in jobs:
            jobs_by_group.setdefault(j["group"], []).append(j)
        detail: dict[str, list[float]] = {}

        def add(name, v):
            detail.setdefault(name, []).append(v)

        n_jobs, n_tasks, shuffle, busy, driver, coverage = [], [], [], [], [], []
        for r in self.records:
            label = r["op"].label
            rs = by_req.get(r["id"], [])
            root = next(s for s in rs if s["name"] == "request")
            wall = root["end"] - root["start"]
            coverage.append(sum(s["end"] - s["start"] for s in rs
                                if s["parent"] == root["id"]) / wall)
            rj = jobs_by_group.get(r["id"], [])
            n_jobs.append(len(rj))
            n_tasks.append(sum(j["tasks"] for j in rj))
            shuffle.append(sum(j["shuffle_bytes"] for j in rj) / 1e6)
            busy.append(_union([(j["submit"], j["end"] or root["end"]) for j in rj],
                               root["start"], root["end"]))
            driver.append(wall - busy[-1])
            add(f"spark.jobs.{label}", n_jobs[-1])
            add(f"spark.tasks.{label}", n_tasks[-1])
            add(f"spark.shuffle_write_mb.{label}", shuffle[-1])
            for s in rs:
                if s is root:
                    continue
                d = s["end"] - s["start"]
                inside = [j for j in rj if s["start"] <= j["submit"] <= s["end"]]
                if r["op"].kind == "pass":
                    add(f"{s['name']}_s", d)
                    add(f"spark.shuffle_write_mb.{s['name'].split('.')[-1]}",
                        sum(j["shuffle_bytes"] for j in inside) / 1e6)
                elif s["name"] == "update.update":
                    add(f"update.update_s.{label}", d)
                    add(f"update.jobs.{label}", len(inside))
                else:
                    add(f"{s['name']}_s.{label}", d)
                    if s["name"] == "compiler.evaluate":
                        # jobs planning itself started: eager path
                        # fixpoint rounds, size probes
                        add(f"spark.eval_jobs.{label}", len(inside))
        m = {"session.get_spark_s": self.session_s,
             "setup.open_s": self.open_s,
             "spark.gc_s": self.gc_s,
             "spark.jobs": statistics.mean(n_jobs),
             "spark.tasks": statistics.mean(n_tasks),
             "spark.shuffle_write_mb": statistics.mean(shuffle),
             "request.spark_busy_s": statistics.median(busy),
             "request.driver_only_s": statistics.median(driver),
             "trace.coverage": min(coverage),
             "trace.request_p50_s": statistics.median(r["wall"] for r in self.records)}
        notes = {"spark.gc_s": "JVM collection time in the timed phase",
                 "spark.jobs": "mean per request", "spark.tasks": "mean per request",
                 "spark.shuffle_write_mb": "mean per request",
                 "request.spark_busy_s": "median per request: a Spark job running",
                 "request.driver_only_s": "median per request: no Spark job running",
                 "trace.coverage": "min over requests: direct child spans / request wall",
                 "trace.request_p50_s": "request_p50_s of this traced run"}
        for k, v in m.items():
            self.note(k, v, dict(PER_LAYER)[k], notes.get(k, ""))
        base = os.path.join(RESULTS, f"{self.args.workload}-{self.args.seed}.json")
        if os.path.exists(base):
            with open(base) as f:
                untraced = json.load(f)
            if untraced.get("fingerprint") == self.fingerprint():
                self.note("trace.overhead_s",
                          m["trace.request_p50_s"] - untraced["request_p50_s"], "s",
                          "traced minus untraced request_p50_s, same seed, scale and code")
        for k, vs in sorted(detail.items()):
            unit = "MB" if "_mb" in k else "count" if "jobs" in k or "tasks" in k else "s"
            self.note(k, statistics.median(vs), unit, f"median, n={len(vs)}")
        for k, v in self.opened.items():
            self.note(k, v, "s" if k.endswith("_s") else "count", "set-up")
        for k, v in self.wl.trace_counts().items():
            self.note(k, v, "ratio" if k.endswith("precision") else "count", "")
        stages = [statistics.median(detail[f"{s}_s"]) for s in STAGES if f"{s}_s" in detail]
        if stages:
            self.note("curation.stage_sum_s", sum(stages), "s",
                      "stages forced one by one; compare request_p50_s untraced (fused)")
        return m

    def fingerprint(self) -> str:
        """The workload's scale, its round count and a hash of the
        program's and the benchmark's sources: a stored untraced result
        is compared only with a traced run of the same ones."""
        h = hashlib.sha256(json.dumps([self.wl.scale, self.rounds]).encode())
        root = os.path.dirname(HERE)
        for top in ("kineo_spark", "perfbench"):
            for dirpath, dirnames, files in os.walk(os.path.join(root, top)):
                dirnames[:] = sorted(d for d in dirnames if not d.startswith("."))
                for name in sorted(f for f in files if f.endswith(".py")):
                    path = os.path.join(dirpath, name)
                    h.update(os.path.relpath(path, root).encode())
                    with open(path, "rb") as f:
                        h.update(f.read())
        return h.hexdigest()

    # -- main --------------------------------------------------------------
    def main(self) -> int:
        a = self.args
        os.makedirs(os.path.join(self.work, "tmp"), exist_ok=True)
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "spark-local")
        os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(self.work, "tmp")
        # the program's own defaults: no driver-memory or core override
        for k in ("KINEO_DRIVER_MEM", "SPARK_GRAFT_CPUS"):
            os.environ.pop(k, None)
        if a.trace:
            os.environ["KINEO_UI"] = "1"  # REST API for job and stage metrics
        else:
            os.environ.pop("KINEO_UI", None)
        try:
            from kineo_spark import get_spark

            self.wl = WORKLOADS[a.workload](os.path.join(self.work, "data"), a.seed)
            self.wl.tracer = self.tracer
            try:
                self.setup(get_spark)
                sc = self.spark.sparkContext
                self.defaults = {
                    "master": sc.master,
                    "spark.driver.memory": sc.getConf().get("spark.driver.memory"),
                    "spark.sql.shuffle.partitions":
                        self.spark.conf.get("spark.sql.shuffle.partitions")}
                if a.trace:
                    wrap_engine(self.tracer)
                self.loop(np.random.default_rng(a.seed))
                self.tracer.unwrap_all()
                self.tracer.enabled = False
                if a.trace:
                    self.wl.trace_extra()
                jobs = spark_jobs(sc) if a.trace else []
                self.check()
                self.peak_rss = peak_rss_mb(self.pids)
            finally:
                self.wl.close()
                stop_spark(getattr(self, "spark", None))
        finally:
            shutil.rmtree(self.work, ignore_errors=True)

        e2e = self.end_to_end()
        layers = self.per_layer(jobs) if a.trace else {}
        metrics = layers if a.trace else e2e
        names = PER_LAYER if a.trace else END_TO_END
        result = {"correct": not self.failures,
                  "attempted": self.attempted,
                  "failed": len(self.failures),
                  "metrics": {n: {"value": metrics[n], "unit": u} for n, u in names}}
        stem = f"{a.workload}-{a.seed}"
        if a.trace:
            tdir = os.path.join(HERE, ".work", "traces")
            self.tracer.dump(os.path.join(tdir, stem + ".spans.jsonl"))
            with open(os.path.join(tdir, stem + ".layers.json"), "w") as f:
                json.dump({n: {"value": v, "unit": u, "note": x}
                           for n, v, u, x in self.report}, f, indent=1)
        else:
            os.makedirs(RESULTS, exist_ok=True)
            with open(os.path.join(RESULTS, stem + ".json"), "w") as f:
                json.dump({**e2e, "fingerprint": self.fingerprint()}, f)

        print(f"# workload={a.workload} seed={a.seed} seconds={a.seconds} "
              f"trace={a.trace} program defaults={json.dumps(self.defaults)}")
        for name, value, unit, extra in self.report:
            print(f"{name:44s} {value:14.6f} {unit:6s} {extra}")
        for label, err in self.failures:
            print(f"FAILED {label}: {err.strip().splitlines()[-1][:300]}")
        print(json.dumps(result))
        return 0


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway server exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return Run(p.parse_args(argv)).main()


if __name__ == "__main__":
    sys.exit(main())
