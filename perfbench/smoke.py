#!/usr/bin/env python3
"""Smoke test of the benchmark itself, at sf0.001 and a 50-document
curation batch:

    python3 perfbench/smoke.py

For every workload it makes one untraced run with one wrong answer
injected and one traced run, and checks that each emits exactly the
metrics BENCHMARK.json names (with their units), that the injected
answer is counted in ``failed`` (so fail_ratio rises), and that the
untouched traced run is correct. Exits non-zero on the first failure.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402
import workloads  # noqa: E402

workloads.SparqlMixed.sf = 0.001
workloads.LlmCuration.batch_docs = 50
workloads.LlmCuration.n_vectors = 500


def _corrupt_first(cls, corrupt) -> None:
    """Make the first operation of every round return a wrong answer."""
    orig = cls.round

    def round_(self, rng):
        ops = orig(self, rng)
        first = ops[0]
        run_ = first.run
        first.run = lambda: corrupt(run_())
        return ops

    cls.round = round_


def _drop_last_binding(out: str) -> str:
    doc = json.loads(out)
    doc["results"]["bindings"] = doc["results"]["bindings"][:-1]
    return json.dumps(doc)


def _duplicate_sample_row(out: dict) -> dict:
    return {**out, "sample": out["sample"] + out["sample"][:1]}


CORRUPT = {"sparql_mixed": (workloads.SparqlMixed, _drop_last_binding),
           "llm_curation": (workloads.LlmCuration, _duplicate_sample_row)}


def _run(workload: str, trace: int) -> dict:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = run.main(["--workload", workload, "--seed", "7", "--seconds", "0",
                       "--trace", str(trace)])
    lines = buf.getvalue().strip().splitlines()
    if rc != 0:
        raise SystemExit(f"{workload} trace={trace}: exit {rc}")
    return json.loads(lines[-1])


def _expect(cond: bool, what: str) -> None:
    if not cond:
        raise SystemExit(f"smoke FAILED: {what}")
    print(f"ok  {what}")


def main() -> int:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    kinds = {0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
             1: {m["name"]: m["unit"] for m in bench["per_layer"]}}
    _expect(sorted(w["name"] for w in bench["workloads"]) == sorted(workloads.WORKLOADS),
            "BENCHMARK.json names every workload")
    for name in bench["workloads"]:
        name = name["name"]
        res = _run(name, 1)
        _expect({k: v["unit"] for k, v in res["metrics"].items()} == kinds[1],
                f"{name}: traced run emits every per-layer metric")
        _expect(res["correct"] and res["failed"] == 0, f"{name}: traced run is correct")
        cls, corrupt = CORRUPT[name]
        orig = cls.round
        _corrupt_first(cls, corrupt)
        try:
            res = _run(name, 0)
        finally:
            cls.round = orig
        _expect({k: v["unit"] for k, v in res["metrics"].items()} == kinds[0],
                f"{name}: untraced run emits every end-to-end metric")
        _expect(res["failed"] >= 1 and not res["correct"],
                f"{name}: an injected wrong answer raises fail_ratio "
                f"({res['failed']}/{res['attempted']})")
    return 0


if __name__ == "__main__":
    sys.exit(main())
