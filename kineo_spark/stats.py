"""Characteristic-set statistics and the stats-driven COUNT shortcut.

Reference: Diomede answers whole ``COUNT(*)`` star queries from its
characteristic sets as a constant TablePlan, never touching the quads
(/root/reference/Sources/Kineo/QuadStore/DiomedeQuadStore.swift:14-97:
``characteristicSetSatisfiableCountPlan`` handles COUNT(*), COUNT(?v)
and COUNT(DISTINCT ?star_subject) over a simple star — one unbound
subject variable, bound predicates, distinct unbound object vars).

Spark-native version: the characteristic sets are computed with ONE
aggregation job over the quads (groupBy subject → predicate multiset →
groupBy predicate-set) and the resulting statistics — a few rows per
distinct predicate-set, bounded by schema shape, not data size — live
driver-side. At 100 TB this is the classic metadata move: the stats
job runs once at load/compaction time (like ANALYZE TABLE), and
qualifying COUNT queries answer in O(#characteristic sets) on the
driver with zero executor work.

Exactness: COUNT(DISTINCT subject) is always exact (a subject's
predicate set determines exactly one characteristic set). COUNT(*) of
a k-pattern star is ``Σ_cs subjects(cs) × Π_p m_p(cs)`` which is exact
only when every subject in the set has the same per-predicate
multiplicity (min == max); otherwise we DECLINE (return None) and the
normal plan runs — the shortcut never answers with an estimate.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from kineo_spark import algebra as A
from kineo_spark.model import PyTerm
from kineo_spark.store import store_memo


class CharacteristicSets:
    """Per-graph characteristic-set statistics for a QuadStore.

    The driver-side collect is bounded by ``max_rows`` (sets × their
    predicates): real RDF has schema-shaped set counts, but a
    pathological corpus with near-unique predicate sets would balloon
    the collect, so above the cap we keep only the top sets by subject
    support (estimation stays useful) and DECLINE the exact count-star
    shortcut entirely (``count_star`` → None, normal plan runs)."""

    #: cap on collected (graph, cs, predicate) rows — ~a few MB driver-side
    MAX_COLLECT_ROWS = 100_000
    #: when over the cap, sample this many sets by support for estimation
    SAMPLE_SETS = 10_000

    def __init__(self, store, max_rows: int | None = None):
        max_rows = self.MAX_COLLECT_ROWS if max_rows is None else max_rows
        q = store.quads()
        sp = (q.groupBy("g_lex", "s_kind", "s_lex", "p_lex")
              .agg(F.count(F.lit(1)).alias("n")))
        cs = (sp.groupBy("g_lex", "s_kind", "s_lex")
              .agg(F.sort_array(
                  F.collect_list(F.struct("p_lex", "n"))).alias("pn")))
        per_cs = (
            cs.select("g_lex",
                      F.transform("pn", lambda e: e["p_lex"]).alias("cs"),
                      F.explode("pn").alias("e"))
            .groupBy("g_lex", "cs", F.col("e.p_lex").alias("p"))
            .agg(F.sum("e.n").alias("tot"), F.min("e.n").alias("mn"),
                 F.max("e.n").alias("mx"),
                 F.count(F.lit(1)).alias("subjects"))
        ).persist()
        try:
            self._exact = per_cs.limit(max_rows + 1).count() <= max_rows
            self._total_fallback = 0.0
            if self._exact:
                rows = per_cs.collect()
            else:
                top = (per_cs.groupBy("g_lex", "cs")
                       .agg(F.max("subjects").alias("sup"))
                       .orderBy(F.desc("sup")).limit(self.SAMPLE_SETS)
                       .select("g_lex", "cs"))
                rows = per_cs.join(top, ["g_lex", "cs"], "left_semi").collect()
                self._total_fallback = float(q.count())
        finally:
            per_cs.unpersist()
        # one bounded collect: (graph, cs) → {p: (tot, mn, mx)}, subjects
        sets: dict[tuple[str, tuple[str, ...]], dict] = {}
        for r in rows:
            key = (r["g_lex"], tuple(r["cs"]))
            ent = sets.setdefault(key, {"subjects": r["subjects"], "p": {}})
            ent["p"][r["p"]] = (r["tot"], r["mn"], r["mx"])
        self._sets = sets

    @classmethod
    def for_store(cls, store) -> "CharacteristicSets":
        """The store's statistics, computed on first use and dropped with
        the store (store.store_memo; they hold nothing persisted)."""
        return store_memo(store, "CharacteristicSets", lambda: cls(store))

    def count_star(self, preds: list[str], graph_lex: str | None,
                   distinct_subject: bool = False) -> int | None:
        """COUNT over a simple star with the given bound predicate
        lexicals; ``graph_lex=None`` spans every graph. Returns None
        when the stats cannot give an EXACT answer."""
        if not self._exact:
            return None  # sampled sets: sums would silently undercount
        need = set(preds)
        total = 0
        for (g, cs), ent in self._sets.items():
            if graph_lex is not None and g != graph_lex:
                continue
            if not need.issubset(set(cs)):
                continue
            if distinct_subject:
                total += ent["subjects"]
                continue
            prod = ent["subjects"]
            for p in preds:
                tot, mn, mx = ent["p"][p]
                if mn != mx:
                    return None  # non-uniform multiplicity: not exact
                prod *= mn
            total += prod
        return total

    # -- cardinality estimation (join-order cost model) -------------------
    # The reference plans ID joins smallest-side-first using store
    # statistics (Diomede characteristic sets, DiomedeQuadStore.swift:
    # 14-97; planner cost hooks QueryPlanner.swift:449-457). These
    # HEURISTIC estimates (never answers) drive the same greedy
    # ordering for BGP joins in Compiler._bgp.

    _BOUND_OBJECT_SELECTIVITY = 0.1

    def total_triples(self, graph_lex: str | None = None) -> float:
        if not self._exact and graph_lex is None:
            return self._total_fallback  # one distributed scalar, not Σ sample
        t = 0.0
        for (g, _cs), ent in self._sets.items():
            if graph_lex is not None and g != graph_lex:
                continue
            t += sum(tot for tot, _mn, _mx in ent["p"].values())
        return t

    def estimate_pattern(self, qp: A.QuadPattern) -> float:
        """Heuristic row estimate for one quad-pattern scan."""
        graph_lex = qp.g.lex if isinstance(qp.g, PyTerm) else None
        if isinstance(qp.p, PyTerm) and qp.p.kind == 0:
            tot = subj = 0.0
            for (g, cs), ent in self._sets.items():
                if graph_lex is not None and g != graph_lex:
                    continue
                if qp.p.lex in ent["p"]:
                    tot += ent["p"][qp.p.lex][0]
                    subj += ent["subjects"]
            est = tot
            if not isinstance(qp.s, A.Var):  # bound subject: avg multiplicity
                est = tot / max(subj, 1.0)
        else:
            est = self.total_triples(graph_lex)
            if not isinstance(qp.s, A.Var):
                est *= self._BOUND_OBJECT_SELECTIVITY
        if not isinstance(qp.o, A.Var):
            est *= self._BOUND_OBJECT_SELECTIVITY
        return max(est, 1.0)

    def estimate_star(self, patterns: list[A.QuadPattern]) -> float:
        """Heuristic row estimate for a same-subject star: over each
        characteristic set containing every bound predicate, subjects ×
        ∏ average multiplicities."""
        preds = []
        for qp in patterns:
            if not (isinstance(qp.p, A.Var)) and qp.p.kind == 0:
                preds.append(qp.p.lex)
            else:
                return self.total_triples(None)  # unbound predicate: no cs view
        graph_lex = patterns[0].g.lex if isinstance(patterns[0].g, PyTerm) else None
        total = 0.0
        need = set(preds)
        for (g, cs), ent in self._sets.items():
            if graph_lex is not None and g != graph_lex:
                continue
            if not need.issubset(set(cs)):
                continue
            prod = float(ent["subjects"])
            for p in preds:
                tot, _mn, _mx = ent["p"][p]
                prod *= tot / max(ent["subjects"], 1)
            total += prod
        bound_obj = sum(1 for qp in patterns if not isinstance(qp.o, A.Var))
        total *= self._BOUND_OBJECT_SELECTIVITY ** bound_obj
        if not isinstance(patterns[0].s, A.Var):
            total *= self._BOUND_OBJECT_SELECTIVITY
        return max(total, 1.0)


def _star_shape(child: A.Algebra):
    """If ``child`` is a simple star BGP (one unbound subject var, all
    predicates bound IRIs, object vars unbound and non-repeating),
    return (predicate lexicals, bound graph lexical or None, subject
    var, object vars); else None. Mirrors
    characteristicSetSatisfiableCardinality's guards."""
    graph_lex = None
    if isinstance(child, A.NamedGraph):
        if not isinstance(child.graph, PyTerm):
            return None  # GRAPH ?g: grouped per graph — not a plain count
        graph_lex = child.graph.lex
        child = child.child
    if isinstance(child, A.Triple):
        child = A.BGP((child.pattern,))
    if not isinstance(child, A.BGP) or not child.patterns:
        return None
    subj = None
    preds: list[str] = []
    ovars: list[str] = []
    for tp in child.patterns:
        if not isinstance(tp.s, A.Var) or not isinstance(tp.o, A.Var):
            return None
        if subj is None:
            subj = tp.s.name
        elif tp.s.name != subj:
            return None  # not a single star
        if not isinstance(tp.p, PyTerm) or tp.p.kind != 0:
            return None
        if tp.o.name == subj:
            return None  # object shares the subject var: a join, not a star
        preds.append(tp.p.lex)
        ovars.append(tp.o.name)
    if len(set(ovars)) != len(ovars):
        return None  # repeated object var is an implicit join
    return preds, graph_lex, subj, ovars


def try_count_star_plan(compiler, node: A.Aggregate, g):
    """The planner hook: ungrouped single COUNT over a simple star →
    constant TablePlan from characteristic sets (DiomedeQuadStore.swift:
    45-76), or None to fall through to the normal plan. Never runs an
    executor job at answer time; the stats themselves are a cached
    one-off per store."""
    from kineo_spark.expr import EVar

    if node.groups or len(node.aggs) != 1:
        return None
    if isinstance(g, A.Var) and g.binding:
        # GRAPH ?var scope: §18.1.7 wants one count PER NAMED GRAPH —
        # no single store-wide scalar answers that
        return None
    name, spec = node.aggs[0]
    star = _star_shape(node.child)
    if star is None:
        return None
    preds, graph_lex, subj, ovars = star
    # outer graph context: a bound active graph scopes the count; an
    # unbound/default context spans the store (RelationalQuadStore's
    # default graph is the union of the per-table graphs)
    if graph_lex is None and isinstance(g, PyTerm):
        graph_lex = g.lex
    distinct_subject = False
    if spec.op == "COUNT*" and not spec.distinct:
        pass
    elif spec.op == "COUNT" and isinstance(spec.expr, EVar) \
            and spec.expr.name in {subj, *ovars}:
        if spec.distinct:
            if spec.expr.name != subj:
                return None  # only the star subject is provably distinct
            distinct_subject = True
        # non-distinct COUNT(?v) over a star: every var is always bound
        # in every row, so it equals COUNT(*)
    else:
        return None

    stats = CharacteristicSets.for_store(compiler.store)
    card = stats.count_star(preds, graph_lex, distinct_subject)
    if card is None:
        return None
    from kineo_spark.model import lit as _lit

    return compiler._table(A.Table((name,), ((_lit(card),),)))
