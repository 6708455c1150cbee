"""The benchmark's workloads.

A workload generates its inputs from the seed, opens the program's
stores (the timed set-up), and yields rounds of operations for a closed
loop with one client: every round holds each of the workload's
templates once, in a fixed order, with fresh seeded constants, so every
run sees the same mix. Each operation returns its output; the output is
checked only after the timed phase.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import time
from dataclasses import dataclass, field
from typing import Callable

import numpy as np

import datagen
import templates as T

RW_TABLES = ["customer", "nation", "region"]
MINHASH_THRESHOLD = 0.6  # dedup.minhash_dedup_pairs' default
# 16 bands of 4 rows (the default k=64) miss a pair of Jaccard 0.8 with
# probability (1 - 0.8**4)**16 < 3e-4, and the hashing is seeded, so a
# planted pair at or above this Jaccard that is not reported is a failure
SURE_JACCARD = 0.8
SAMPLE_RATE = 0.5
KNN_K = 5


@dataclass
class Op:
    kind: str                       # "query" | "update" | "pass"
    label: str                      # template, update op or stage chain
    run: Callable[[], object]
    check: Callable[[object], str | None]  # None = correct, else why not
    info: dict = field(default_factory=dict)


def _duckdb(data_dir: str, tables: list[str]):
    import duckdb

    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(data_dir, t)}.parquet')")
    return con


def _sparql_check(con, req: T.Request):
    def check(out) -> str | None:
        got = T.sparql_json_rows(out)
        want = T.oracle_rows(con, req.sql)
        if T.rows_match(got, want, req.ordered):
            return None
        return f"{len(got)} rows, oracle {len(want)}"
    return check


class SparqlMixed:
    """Three kinds of SPARQL traffic in one closed loop, so that every
    SPARQL layer runs within the benchmark's time budget:

    - interactive reads: term mode over RelationalQuadStore (every
      mapped table), where per-request planning is about half the
      latency;
    - analytic reads: ID mode with 128-bit keys (the CLI default) over
      orders/customer/nation/region, bound by Spark execution, path
      fixpoints and the dictionary, whose build is part of the set-up;
    - one graph-store writer cycle over a GraphStore holding the
      customer/nation/region quads, where every update rewrites and
      checkpoints the whole quad set.
    """

    name = "sparql_mixed"
    sf = 0.002
    round_s = 30  # nominal length of one cold round on the 4-core reference box

    def __init__(self, data_dir: str, seed: int):
        self.data_dir = data_dir
        self.seed = seed
        self.n = datagen.generate_tables(data_dir, seed, self.sf)
        self.con = _duckdb(data_dir, ["region", "nation", "customer", "supplier",
                                      "part", "orders", "lineitem"])
        self.cycle = 0
        self.segments: dict[str, str] = {}  # customer -> last segment written

    @property
    def scale(self) -> dict:
        return {"sf": self.sf}

    def open(self, spark) -> dict:
        from kineo_spark.dictionary import IdEncodedView, id_compiler
        from kineo_spark.engine import Engine
        from kineo_spark.store import RelationalQuadStore
        from kineo_spark.update import GraphStore

        self.engine = Engine(RelationalQuadStore(spark, self.data_dir))
        store = RelationalQuadStore(spark, self.data_dir, tables=T.ANALYTIC_TABLES)
        t0 = time.perf_counter()
        view = IdEncodedView.for_store(store, key_bits=128)
        build_s = time.perf_counter() - t0
        self.id_engine = Engine(store)
        self.id_engine.compiler = id_compiler(store, key_bits=128)
        self.graph = GraphStore(
            spark, RelationalQuadStore(spark, self.data_dir, tables=RW_TABLES).quads())
        # customer: 5 columns + 1 FK + rdf:type; nation: 3 + 1 + 1; region: 2 + 1
        self.expected_quads = 7 * self.n["customer"] + 25 * 5 + 5 * 3
        return {"dictionary.build_s": build_s, "dictionary.n_terms": view.n_terms}

    def _read(self, eng, req: T.Request) -> Op:
        return Op("query", req.template,
                  lambda: eng.serialize(eng.query(req.sparql)),
                  _sparql_check(self.con, req))

    def _rw_cycle(self, rng) -> list[Op]:
        i = self.cycle
        self.cycle += 1
        item = f"<urn:bench:item:{self.seed}-{i}>"
        value = f"v-{self.seed}-{i}-{int(rng.integers(0, 1 << 30))}"
        owner = f"<urn:t:customer:{int(rng.integers(0, self.n['customer']))}>"
        cust = f"<urn:t:customer:{int(rng.integers(0, self.n['customer']))}>"
        seg = "<urn:col:customer:c_mktsegment>"
        gs = self.graph

        def insert():
            gs.update(f'INSERT DATA {{ {item} <urn:bench:value> "{value}" . '
                      f'{item} <urn:bench:owner> {owner} . }}')
            self.expected_quads += 2

        def delete():
            gs.update(f"DELETE DATA {{ {item} <urn:bench:owner> {owner} . }}")
            self.expected_quads -= 1

        def modify():
            g = "<urn:g:customer>"
            new = f"SEG-{self.seed}-{i}"
            gs.update(f'DELETE {{ GRAPH {g} {{ {cust} {seg} ?old }} }} '
                      f'INSERT {{ GRAPH {g} {{ {cust} {seg} "{new}" }} }} '
                      f'WHERE {{ GRAPH {g} {{ {cust} {seg} ?old }} }}')
            self.segments[cust] = new

        def read():
            res = gs.query(f"SELECT ?v WHERE {{ {item} <urn:bench:value> ?v }}")
            return self.engine.serialize(res)

        def read_check(out) -> str | None:
            got = [b["v"]["value"] for b in json.loads(out)["results"]["bindings"]]
            return None if got == [value] else f"read {got}, wrote {value!r}"

        def no_check(_out) -> None:
            return None

        return [Op("update", "insert_data", insert, no_check),
                Op("query", "read_own_write", read, read_check),
                Op("update", "delete_data", delete, no_check),
                Op("update", "modify_where", modify, no_check)]

    def round(self, rng) -> list[Op]:
        i = [self._read(self.engine, t(rng, self.n)) for t in T.INTERACTIVE]
        a = [self._read(self.id_engine, t(rng, self.n)) for t in T.ANALYTIC]
        w = self._rw_cycle(rng)
        return (i[0:3] + w[0:1] + a[0:1] + i[3:5] + w[1:2] + a[1:2] + i[5:7]
                + w[2:3] + a[2:3] + i[7:8] + a[3:4] + i[8:10] + w[3:4] + a[4:5])

    def final_checks(self) -> list[tuple[str, str | None]]:
        """The quad count, and every customer modify_where touched must
        hold exactly the last segment written to it."""
        self.quads_after = n = self.graph.quads.count()
        out = [("final_quad_count", None if n == self.expected_quads
                else f"{n} quads, expected {self.expected_quads}")]
        for cust, want in self.segments.items():
            res = self.graph.query(
                "SELECT ?s WHERE { GRAPH <urn:g:customer> "
                f"{{ {cust} <urn:col:customer:c_mktsegment> ?s }} }}")
            got = [b["s"]["value"] for b in
                   json.loads(self.engine.serialize(res))["results"]["bindings"]]
            out.append(("modify_where_result", None if got == [want]
                        else f"{cust} segment {got}, wrote {want!r}"))
        return out

    def trace_extra(self) -> None:
        pass

    def trace_counts(self) -> dict:
        return {"update.quads_after": self.quads_after}

    def close(self) -> None:
        self.con.close()


STAGES = ["selection.gopher_rules", "dedup.exact_dedup",
          "dedup.minhash_dedup_pairs", "ranking.kn_bigram_logprob",
          "sampling.deterministic_sample", "similarity.knn_bruteforce"]


class LlmCuration:
    """One pass = the whole curation chain over one seeded batch."""

    name = "llm_curation"
    batch_docs = 300       # originals per batch, before planted copies
    n_batches = 3
    n_vectors = 2000
    n_queries = 32
    round_s = 25  # nominal length of one cold pass on the 4-core reference box

    def __init__(self, data_dir: str, seed: int):
        import pyarrow.parquet as pq

        self.data_dir = data_dir
        datagen.generate_tables(data_dir, seed, 0.001,
                                n_doc=self.batch_docs * self.n_batches,
                                n_emb=self.n_vectors)
        docs = pq.read_table(os.path.join(data_dir, "documents.parquet"),
                             columns=["doc_id", "text"]).to_pylist()
        self.batches = []
        for b in range(self.n_batches):
            path = os.path.join(data_dir, f"batch{b}.parquet")
            truth = datagen.derive_corpus(
                docs[b * self.batch_docs:(b + 1) * self.batch_docs], path,
                seed * 1000 + b, near_frac=0.2, exact_frac=0.1)
            self.batches.append((path, truth))
        emb = pq.read_table(os.path.join(data_dir, "embeddings.parquet"))
        self.vectors = np.array(emb.column("embedding").to_pylist(), dtype=np.float64)
        self.vec_ids = np.array(emb.column("vec_id").to_pylist())
        self.next_batch = 0
        self.recall_hits = 0
        self.recall_total = 0

    @property
    def scale(self) -> dict:
        return {"batch_docs": self.batch_docs, "n_vectors": self.n_vectors}

    def open(self, spark) -> None:
        self.spark = spark
        self.emb = spark.read.parquet(os.path.join(self.data_dir, "embeddings.parquet"))

    def _stage(self, name: str, fn, force: bool):
        """Run one stage; when traced, also force and checkpoint its
        output so the stage's own work lands in its span."""
        with self.tracer.span(name):
            out = fn()
            return out.localCheckpoint(eager=True) if force else out

    def _pass(self, path: str, query_ids: list[int]) -> dict:
        from pyspark.sql import functions as F

        from kineo_spark.pipeline import dedup, ranking, sampling, selection, similarity

        force = self.tracer.enabled
        docs = self.spark.read.parquet(path)
        kept = self._stage(STAGES[0], lambda: docs.join(
            selection.gopher_rules(docs, "doc_id").filter("keep")
            .select(F.col("id").alias("doc_id")), "doc_id", "left_semi"), force)
        uniq = self._stage(STAGES[1], lambda: kept.join(
            dedup.exact_dedup(kept, "doc_id").select(F.col("keep_id").alias("doc_id")),
            "doc_id", "left_semi"), force)
        # the near-duplicate pairs come back to the driver (the pass's
        # dedup report); the lower id of every pair stays in the corpus
        pairs = self._stage(STAGES[2], lambda: [tuple(r) for r in dedup.minhash_dedup_pairs(
            uniq, "doc_id", threshold=MINHASH_THRESHOLD).select(
            "id_a", "id_b", "jaccard").collect()], False)
        drop = self.spark.createDataFrame([(max(a, b),) for a, b, _ in pairs],
                                          "doc_id long")
        clean = uniq.join(drop, "doc_id", "left_anti")
        scored = self._stage(STAGES[3], lambda: ranking.kn_bigram_logprob(
            clean, "doc_id"), force)
        sample = self._stage(STAGES[4], lambda: sampling.deterministic_sample(
            scored, "doc_id", SAMPLE_RATE), force)
        knn = self._stage(STAGES[5], lambda: similarity.knn_bruteforce(
            self.emb, self.emb.filter(F.col("vec_id").isin(query_ids)),
            "vec_id", "embedding", k=KNN_K), force)
        if force:
            self._last = (uniq, len(pairs))
        with self.tracer.span("collect"):
            return {
                "pairs": pairs,
                "sample": [tuple(r) for r in sample.select("doc_id", "avg_kn_logprob").collect()],
                "knn": [tuple(r) for r in knn.collect()],
            }

    def round(self, rng) -> list[Op]:
        path, truth = self.batches[self.next_batch % self.n_batches]
        self.next_batch += 1
        query_ids = sorted(int(i) for i in rng.choice(self.vec_ids, self.n_queries,
                                                      replace=False))
        return [Op("pass", "curation_chain", lambda: self._pass(path, query_ids),
                   lambda out: self._check(out, truth, query_ids),
                   {"docs": len(truth["texts"])})]

    def _knn_errors(self, knn: list[tuple], query_ids: list[int]) -> list[str]:
        """Each query's k neighbours must be distinct, exclude the query
        and be at least as close as the numpy oracle's k-th neighbour
        (float32 storage leaves near-ties at the k-th place open)."""
        v = self.vectors / np.linalg.norm(self.vectors, axis=1, keepdims=True)
        got: dict[int, list[int]] = {}
        for q, nb, _ in knn:
            got.setdefault(q, []).append(nb)
        errors = []
        for q in query_ids:
            sims = v @ v[q]
            sims[q] = -np.inf
            kth = np.sort(sims)[-KNN_K]
            nbs = got.get(q, [])
            if (len(nbs) != KNN_K or len(set(nbs)) != KNN_K or q in nbs
                    or any(sims[nb] < kth - 1e-5 for nb in nbs)):
                errors.append(f"knn of {q}: {nbs}")
        return errors

    def _check(self, out: dict, truth: dict, query_ids: list[int]) -> str | None:
        """Every reported pair is a true near-duplicate of the exact-deduped
        batch; every planted pair at or above SURE_JACCARD is reported;
        the sample is exactly the one computed here from the batch: the
        Gopher rules keep every generated document, exact dedup drops each
        copy (the higher id), the pass drops the higher id of each reported
        pair, and deterministic_sample keeps an id when the first 8 hex
        digits of md5(str(id)) lie below SAMPLE_RATE * 2**32."""
        texts = truth["texts"]
        uniq = set(texts) - {b for _, b in truth["exact"]}
        errors = []
        found = {(min(a, b), max(a, b)) for a, b, _ in out["pairs"]}
        for a, b, j in out["pairs"]:
            if a not in uniq or b not in uniq:
                errors.append(f"pair {a},{b} holds an exact copy or an unknown id")
                continue
            true_j = datagen.jaccard(texts[a], texts[b])
            if not math.isclose(j, true_j, abs_tol=1e-9) or j < MINHASH_THRESHOLD:
                errors.append(f"pair {a},{b} jaccard {j} (true {true_j})")
        planted = [p for p, j in truth["near"].items() if j >= MINHASH_THRESHOLD]
        self.recall_total += len(planted)
        self.recall_hits += sum(p in found for p in planted)
        if planted and not found:
            errors.append(f"no pairs reported, {len(planted)} planted")
        missed = sorted(p for p, j in truth["near"].items()
                        if j >= SURE_JACCARD and p not in found)
        if missed:
            errors.append(f"planted pairs with Jaccard >= {SURE_JACCARD} missed: {missed}")
        keep = uniq - {b for _, b in found}
        limit = int(SAMPLE_RATE * 2**32)
        want = sorted(d for d in keep
                      if int(hashlib.md5(str(d).encode()).hexdigest()[:8], 16) < limit)
        ids = sorted(d for d, _ in out["sample"])
        if ids != want:
            errors.append(f"sample of {len(ids)} ids, expected {len(want)}; "
                          f"ids in one only: {sorted(set(ids) ^ set(want))[:5]}")
        if any(lp is None or not math.isfinite(lp) or lp > 0.0 for _, lp in out["sample"]):
            errors.append("a missing, infinite or positive log-probability")
        errors += self._knn_errors(out["knn"], query_ids)
        return "; ".join(errors) or None

    def final_checks(self) -> list:
        return []

    def trace_extra(self) -> None:
        """LSH candidate count for the last traced batch, beside the
        pairs exact Jaccard verified (outside the timed loop)."""
        from kineo_spark.pipeline import dedup

        uniq, verified = self._last
        sigs = dedup.minhash_signatures(uniq, "doc_id", "text", k=64, n=3)
        self.lsh = (dedup.minhash_lsh_candidates(sigs, 16, 4).count(), verified)

    def trace_counts(self) -> dict:
        cand, verified = self.lsh
        return {"dedup.lsh_candidates": cand, "dedup.lsh_verified": verified,
                "dedup.lsh_precision": verified / cand if cand else 0.0}

    def close(self) -> None:
        pass


WORKLOADS = {w.name: w for w in (SparqlMixed, LlmCuration)}
