"""Quad stores: pluggable pattern-scan sources.

Reference: the ``QuadStoreProtocol`` family
(/root/reference/Sources/Kineo/QuadStore/QuadStore.swift:48-140) with
implementations MemoryQuadStore / SQLiteQuadStore / DiomedeQuadStore /
SPARQLClientQuadStore. The store contract here is one method:

    scan(QuadPattern) -> DataFrame with one term-struct column per
                         binding variable of the pattern

Two implementations:

- ``QuadsDataFrameStore``: any DataFrame in the flat FIXTURES.md §0
  quads schema (what an N-Triples/N-Quads load produces). Bound
  positions become filters (→ parquet predicate pushdown), variables
  become struct projections.

- ``RelationalQuadStore``: the driver's TPC-H-ish parquet tables viewed
  as a virtual quadstore *without materializing quads*, per the
  FIXTURES.md §5 mapping. This is S2RDF-style vertical partitioning
  (PAPERS.md: "S2RDF: RDF Querying with SPARQL on Spark", VLDB 2016):
  each (table, column) is its own scan, so a pattern with a bound
  predicate reads exactly (pk, column) from parquet — column pruning and
  predicate pushdown reach the scan, which is the property that keeps
  this workable at 100 TB. It plays the role of the reference's
  ``PlanningQuadStore`` pushdown hook (QueryPlanner.swift:94-103) and
  SQLite SQL pushdown (SQLiteQuadStore.swift:528-711), with Catalyst as
  the beneficiary. The full quad set (``quads()``) instead melts each
  table in ONE scan, every column of a row exploding at once.
"""

from __future__ import annotations

import threading
import weakref
from abc import ABC, abstractmethod
from collections import Counter

from pyspark.sql import Column, DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from kineo_spark import algebra as A
from kineo_spark.model import (
    KIND_BLANK,
    KIND_IRI,
    KIND_LITERAL,
    PyTerm,
    QUADS_SCHEMA,
    iri,
    iri_col,
    term_from_spark_col,
    term_key,
    term_struct,
)

RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"


def _unpersist_quietly(df: DataFrame) -> None:
    """Unpersist that tolerates a stopped SparkContext (session
    teardown) — it runs from GC finalizers, which must not raise."""
    try:
        df.unpersist()
    except Exception:
        pass


# live holders per persisted plan. Spark's CacheManager keys cached data
# by PLAN, not by DataFrame object: two stores over the same quads
# DataFrame derive equal plans and share one cache entry, so unpersisting
# for the first store to die would silently uncache the survivor.
_PERSIST_HOLDERS: Counter = Counter()
# reentrant: a finalizer may run inside tie_to_store on the same thread
_HOLDERS_LOCK = threading.RLock()


def _release(held: list) -> None:
    with _HOLDERS_LOCK:
        for key, df in held:
            _PERSIST_HOLDERS[key] -= 1
            if _PERSIST_HOLDERS[key] <= 0:
                del _PERSIST_HOLDERS[key]
                _unpersist_quietly(df)


def tie_to_store(store, *dfs: DataFrame) -> weakref.finalize:
    """Unpersist the (already persisted) ``dfs`` when ``store`` is
    garbage-collected — or when the returned finalizer is called — once
    no other live store holds an equal plan. Cache lifetime = store
    lifetime: stores are cheap wrappers re-created on every mutation
    (update.GraphStore builds a fresh one per Modify and per read), and
    persisted DISK blocks are not LRU-evicted, so without this an
    update-heavy session accumulates orphaned cached blocks until the
    SparkContext stops."""
    held = [(df.semanticHash(), df) for df in dfs]
    with _HOLDERS_LOCK:
        for key, _ in held:
            _PERSIST_HOLDERS[key] += 1
    return weakref.finalize(store, _release, held)


def store_memo(store, key, build):
    """Per-store-instance memo for derived state (the ID dictionary
    view, characteristic sets): ``build()`` runs once per (store, key)
    and its result lives exactly as long as the store object. Unlike a
    class-level dict keyed by ``id(store)``, nothing outlives a short-
    lived store (GraphStore builds one per Modify) and a recycled
    ``id()`` cannot serve one store's state to another. Builders that
    persist DataFrames release them with ``tie_to_store``."""
    memo = store.__dict__.setdefault("_store_memo", {})
    if key not in memo:
        memo[key] = build()
    return memo[key]


class QuadStore(ABC):
    spark: SparkSession

    @abstractmethod
    def scan(self, pattern: A.QuadPattern) -> DataFrame:
        """DataFrame of bindings for the pattern (repeated variables imply
        equality, reference MemoryQuadStore.swift:138,183-201; non-binding
        variables are matched but not returned)."""

    @abstractmethod
    def quads(self) -> DataFrame:
        """All quads in the flat FIXTURES §0 schema (for CONSTRUCT/dump)."""

    def bind_seed_condition(
        self, df: DataFrame, var: str, lexes: tuple[str, ...]
    ) -> Column | None:
        """Store-level inversion of a bind-join seed: given the known
        lexical forms of ``var`` from a small VALUES side, return a
        filter Column over this scan's NATIVE key columns (pushable to
        parquet), or None when the scan carries no seed for the var.
        Base stores have no native layout to invert into."""
        return None

    def graph_terms(self) -> DataFrame:
        """Distinct named-graph terms, one row, column ``__g`` — the
        range of ``GRAPH ?g`` when its pattern binds nothing (e.g.
        ``GRAPH ?g {}`` enumerates the named graphs, §13.3).

        Memoized per store instance behind persist(MEMORY_AND_DISK):
        under ``GRAPH ?var`` every graph-transparent leaf (VALUES, join
        identity) needs names(D), and without the memo each leaf re-ran
        a full-corpus ``distinct()`` over the g column — per-query cost
        O(leaves × corpus) at 100 TB. persist keeps the LINEAGE intact
        (unlike localCheckpoint, whose truncated-lineage blocks die with
        their executor — a lost/decommissioned executor, routine under
        dynamic allocation at scale, would fail every later consumer
        instead of recomputing; ADVICE r10), while still amortizing the
        distinct scan to once per store across however many leaves (or
        queries) consume it. Stores are cheap wrappers re-created on
        mutation (update.GraphStore builds a fresh QuadsDataFrameStore
        per read), so the memo never serves stale graphs."""
        memo = getattr(self, "_graph_terms_memo", None)
        if memo is None:
            from pyspark import StorageLevel
            memo = self._graph_terms_build().persist(
                StorageLevel.MEMORY_AND_DISK)
            self._graph_terms_memo = memo
            # unpersisted when the store is garbage-collected (ADVICE
            # r11); release_cached() does it eagerly
            self._graph_terms_finalizer = tie_to_store(self, memo)
        return memo

    def release_cached(self) -> None:
        """Eagerly drop this store's persisted graph_terms memo (also
        runs automatically when the store is garbage-collected)."""
        fin = getattr(self, "_graph_terms_finalizer", None)
        if fin is not None:
            fin()
        self._graph_terms_memo = None

    def _graph_terms_build(self) -> DataFrame:
        q = self.quads()
        ns = F.lit(None).cast("string")
        return q.select(
            term_struct(
                F.lit(KIND_IRI).cast("tinyint"), F.col("g_lex"),
                ns, ns, F.lit(None).cast("double"),
            ).alias("__g")
        ).distinct()


def _assign(
    pattern: A.QuadPattern,
    terms: dict[str, Column],
    df: DataFrame,
    extra: dict[str, Column] | None = None,
) -> DataFrame | None:
    """Common post-scan step: apply repeated-variable equality and project
    binding variables from per-position term columns. ``extra`` columns
    (``__``-prefixed, e.g. bind-join seed columns) ride along the
    projection; the compiler strips them at the first join/merge."""
    seen: dict[str, str] = {}
    cond = None
    out_cols: dict[str, Column] = {}
    for pos, node in pattern.nodes():
        if not isinstance(node, A.Var):
            continue
        if node.name in seen:
            c = term_key(terms[pos]) == term_key(terms[seen[node.name]])
            cond = c if cond is None else (cond & c)
        else:
            seen[node.name] = pos
            if node.binding:
                out_cols[node.name] = terms[pos]
    if cond is not None:
        df = df.filter(cond)
    if not out_cols:
        return df.select()
    cols = [c.alias(n) for n, c in out_cols.items()]
    for n, c in (extra or {}).items():
        cols.append(c.alias(n))
    return df.select(*cols)


class QuadsDataFrameStore(QuadStore):
    """Store over a flat quads DataFrame (FIXTURES.md §0 schema)."""

    def __init__(self, spark: SparkSession, quads_df: DataFrame):
        self.spark = spark
        self._df = quads_df

    @classmethod
    def from_rows(cls, spark: SparkSession, rows) -> "QuadsDataFrameStore":
        return cls(spark, spark.createDataFrame(rows, QUADS_SCHEMA))

    def quads(self) -> DataFrame:
        return self._df

    def scan(self, pattern: A.QuadPattern) -> DataFrame:
        df = self._df
        q = df
        null_s = F.lit(None).cast("string")
        null_d = F.lit(None).cast("double")
        terms = {
            "s": term_struct(df["s_kind"], df["s_lex"], null_s, null_s, null_d),
            "p": term_struct(F.lit(KIND_IRI).cast("tinyint"), df["p_lex"], null_s, null_s, null_d),
            "o": term_struct(df["o_kind"], df["o_lex"], df["o_dt"], df["o_lang"], df["o_num"]),
            "g": term_struct(F.lit(KIND_IRI).cast("tinyint"), df["g_lex"], null_s, null_s, null_d),
        }
        for pos, node in pattern.nodes():
            if isinstance(node, PyTerm):
                # flat-column filters → parquet pushdown
                if pos == "s":
                    q = q.filter((df["s_kind"] == node.kind) & (df["s_lex"] == node.lex))
                elif pos == "p":
                    q = q.filter(df["p_lex"] == node.lex)
                elif pos == "g":
                    q = q.filter(df["g_lex"] == node.lex)
                else:
                    q = q.filter(term_key(terms["o"]).eqNullSafe(F.lit(node.key())))
        return _assign(pattern, terms, q)


class DatasetGraphStore(QuadStore):
    """FROM / FROM NAMED dataset scoping over any base store
    (SPARQL 1.1 §13.2; reference: Dataset handling in
    SimpleQueryEvaluation's activeGraph threading).

    The query's default graph is the MERGE of the FROM graphs — a graph,
    so identical triples from different source graphs collapse to one —
    and GRAPH patterns range over exactly the FROM NAMED set. When only
    one clause kind is present the other side is empty, per spec.

    Scan dispatch uses the compiler's graph-position convention: a
    non-binding graph var = default-graph scan; a binding var or
    constant = named-graph scan. The g_lex filter sits directly above
    the base quads DataFrame, so for parquet-backed stores it reaches
    the scan as a pushed filter.
    """

    DEFAULT_MARKER = "urn:g:default"

    def __init__(self, base: QuadStore, default_graphs, named_graphs):
        self.spark = base.spark
        self._base = base
        self._default = tuple(default_graphs)
        self._named = tuple(named_graphs)

    def _default_quads(self) -> DataFrame:
        df = self._base.quads().filter(F.col("g_lex").isin(list(self._default)))
        if len(self._default) > 1:
            # RDF *merge* (§13.2), not set-union: blank nodes from
            # different FROM graphs are distinct, so standardize them
            # apart by suffixing the bnode label with the source-graph
            # index before deduplicating.
            idx = F.array_position(
                F.array(*[F.lit(g) for g in self._default]), F.col("g_lex"))
            sfx = F.concat(F.lit("+g"), idx.cast("string"))
            for pos in ("s", "o"):
                df = df.withColumn(
                    f"{pos}_lex",
                    F.when(F.col(f"{pos}_kind") == KIND_BLANK,
                           F.concat(F.col(f"{pos}_lex"), sfx))
                    .otherwise(F.col(f"{pos}_lex")))
        cols = [c for c in df.columns if c != "g_lex"]
        df = df.select(*cols)
        if len(self._default) > 1:
            # merge semantics: identical ground triples from different
            # source graphs collapse to one (a graph is a set). Single-
            # graph FROM skips the dedup shuffle — a graph merges to
            # itself.
            df = df.dropDuplicates(["s_kind", "s_lex", "p_lex",
                                    "o_kind", "o_lex", "o_dt", "o_lang"])
        return df.withColumn("g_lex", F.lit(self.DEFAULT_MARKER))

    def _named_quads(self) -> DataFrame:
        return self._base.quads().filter(F.col("g_lex").isin(list(self._named)))

    def _graph_terms_build(self) -> DataFrame:
        """GRAPH ranges over exactly the FROM NAMED set (§13.2)."""
        return QuadsDataFrameStore(
            self.spark, self._named_quads())._graph_terms_build()

    def scan(self, pattern: A.QuadPattern) -> DataFrame:
        g = pattern.g
        if isinstance(g, A.Var) and not g.binding:
            df = self._default_quads() if self._default else self._empty()
        else:
            df = self._named_quads() if self._named else self._empty()
        return QuadsDataFrameStore(self.spark, df).scan(pattern)

    def _empty(self) -> DataFrame:
        return self.spark.createDataFrame([], QUADS_SCHEMA)

    def quads(self) -> DataFrame:
        parts = []
        if self._default:
            parts.append(self._default_quads())
        if self._named:
            parts.append(self._named_quads())
        if not parts:
            return self._empty()
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out


# ---------------------------------------------------------------------------
# Relational (vertical-partitioned) store over the driver tables
# ---------------------------------------------------------------------------

# table → (pk columns, fk column → target table)
TABLES: dict[str, tuple[list[str], dict[str, str]]] = {
    "region": (["r_regionkey"], {}),
    "nation": (["n_nationkey"], {"n_regionkey": "region"}),
    "customer": (["c_custkey"], {"c_nationkey": "nation"}),
    "supplier": (["s_suppkey"], {"s_nationkey": "nation"}),
    "part": (["p_partkey"], {}),
    "orders": (["o_orderkey"], {"o_custkey": "customer"}),
    # the synthetic lineitem has NO unique natural key (even
    # (orderkey, linenumber, partkey, suppkey) collides at sf0.001), so
    # its row IRI uses the parquet row index (_metadata.row_index) —
    # deterministic per physical row, exactly one subject per row.
    "lineitem": (
        ["__rowid"],
        {"l_orderkey": "orders", "l_partkey": "part", "l_suppkey": "supplier"},
    ),
    "events": (["event_id"], {}),
    "documents": (["doc_id"], {}),
    "embeddings": (["vec_id"], {}),
}


_READ_CACHE: dict = {}


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read a driver parquet table, normalizing nanosecond timestamps
    (events.ts is TIMESTAMP(NANOS); Spark reads it as long with
    spark.sql.legacy.parquet.nanosAsLong — convert to µs timestamps).

    The resulting DataFrame (an immutable logical plan) is memoized per
    (session, dir, table) — the catalog-metadata-cache pattern: repeated
    queries against the same table shouldn't re-read parquet footers and
    re-run schema inference on every call (~0.1 s driver time each)."""
    # id() alone could be reused after a stopped session is collected;
    # the applicationId pins the key to the live Spark app as well.
    key = (id(spark), spark.sparkContext.applicationId, sf_dir, name)
    cached = _READ_CACHE.get(key)
    if cached is not None:
        return cached
    from kineo_spark.session import tune
    tune(spark)
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    for f_ in df.schema.fields:
        if name == "events" and f_.name == "ts" and isinstance(f_.dataType, T.LongType):
            # integer division: `/` on longs is double division and ~1.7e18 ns
            # exceeds double's 53-bit mantissa (±1µs drift on ~12% of values)
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif isinstance(f_.dataType, T.TimestampNTZType):
            # parquet ms-timestamps without UTC flag arrive as NTZ; the
            # engine speaks instants (session tz is UTC, so same wall clock)
            df = df.withColumn(f_.name, F.col(f_.name).cast("timestamp"))
    if len(_READ_CACHE) > 256:  # bound: (session, dir, table) triples
        _READ_CACHE.clear()
    _READ_CACHE[key] = df
    return df


class RelationalQuadStore(QuadStore):
    """Virtual quadstore over the driver's parquet tables (FIXTURES §5):

    - row IRI     <urn:t:{table}:{pk[:pk2]}>
    - column quad (<row>, <urn:col:{table}:{col}>, typed literal, <urn:g:{table}>)
    - FK quad     (<row>, <urn:fk:{table}:{col}>, <target row IRI>, <urn:g:{table}>)
    - type quad   (<row>, rdf:type, <urn:class:{table}>, <urn:g:{table}>)

    Complex-typed columns (arrays — embeddings.embedding) are not exposed
    as quads; they stay native for the pipeline operators.
    """

    def __init__(self, spark: SparkSession, sf_dir: str, tables: list[str] | None = None):
        self.spark = spark
        self.sf_dir = sf_dir
        self.table_names = tables or list(TABLES)
        self._cache: dict[str, DataFrame] = {}

    def table(self, name: str) -> DataFrame:
        if name not in self._cache:
            df = read_table(self.spark, self.sf_dir, name)
            if TABLES[name][0] == ["__rowid"]:
                df = df.select("*", F.col("_metadata.row_index").alias("__rowid"))
            self._cache[name] = df
        return self._cache[name]

    def _graph_terms_build(self) -> DataFrame:
        """One urn:g:{table} graph per mapped table — known statically,
        no scan (the base implementation would distinct over the whole
        union view)."""
        ns = F.lit(None).cast("string")
        rows = self.spark.createDataFrame(
            [(f"urn:g:{t}",) for t in self.table_names], "lex string")
        return rows.select(term_struct(
            F.lit(KIND_IRI).cast("tinyint"), F.col("lex"),
            ns, ns, F.lit(None).cast("double")).alias("__g"))

    # -- IRI helpers ------------------------------------------------------
    @staticmethod
    def row_iri(table: str) -> "Column":
        pks, _ = TABLES[table]
        df_cols = [F.col(c).cast("string") for c in pks]
        return F.concat_ws(":", F.lit(f"urn:t:{table}"), *df_cols)

    @staticmethod
    def parse_row_iri(lex: str) -> tuple[str, list[str]] | None:
        if not lex.startswith("urn:t:"):
            return None
        parts = lex.split(":")
        if len(parts) < 4:
            return None
        table = parts[2]
        if table not in TABLES:
            return None
        return table, parts[3:]

    def bind_seed_condition(
        self, df: DataFrame, var: str, lexes: tuple[str, ...]
    ) -> Column | None:
        """Invert VALUES-known row IRIs into native key filters: group
        the lexes by row-IRI table, then OR per seed column a plain
        `key IN (typed values)` — which the parquet reader turns into
        row-group skips (min/max + dictionary), unlike an isin over the
        concat-built IRI string. Sound as a superset pre-filter: seeded
        branches bind the var ONLY to row IRIs of the seeded tables, so
        a lex outside them matches nothing, and the equi-join afterwards
        enforces exactness."""
        prefix = f"__bind_{var}__"
        cols = [c for c in df.columns if c.startswith(prefix)]
        if not cols:
            return None
        by_table: dict[str, list[str]] = {}
        for lex in lexes:
            parsed = self.parse_row_iri(lex)
            if parsed is not None and len(parsed[1]) == 1:
                by_table.setdefault(parsed[0], []).append(parsed[1][0])
        schema = {f.name: f.dataType for f in df.schema.fields}
        conds: list[Column] = []
        for c in cols:
            vals = by_table.get(c[len(prefix):])
            if not vals:
                continue
            dt = schema[c]
            typed: list = []
            for v in vals:
                if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
                    try:
                        typed.append(int(v))
                    except ValueError:
                        continue  # non-numeric lex can never equal an int key
                elif isinstance(dt, T.StringType):
                    typed.append(v)
                else:
                    return None  # unexpected key type: caller falls back to lex isin
            if typed:
                conds.append(F.col(c).isin(typed))
        if not conds:
            # every VALUES row refers to rows this scan cannot produce
            return F.lit(False)
        out = conds[0]
        for c in conds[1:]:
            out = out | c
        return out

    # -- branch enumeration ----------------------------------------------
    def _branches(self, pattern: A.QuadPattern):
        """Yield (table, kind, col) scan branches consistent with the
        bound predicate/graph of the pattern. kind ∈ col|fk|type."""
        tables = self.table_names
        if isinstance(pattern.g, PyTerm):
            if not pattern.g.lex.startswith("urn:g:"):
                return
            t = pattern.g.lex[len("urn:g:"):]
            if t not in TABLES or t not in tables:
                return
            tables = [t]
        p = pattern.p
        if isinstance(p, PyTerm):
            if p.lex == RDF_TYPE:
                for t in tables:
                    yield (t, "type", None)
            elif p.lex.startswith("urn:col:") or p.lex.startswith("urn:fk:"):
                kind = "col" if p.lex.startswith("urn:col:") else "fk"
                rest = p.lex.split(":", 2)[2]
                t, _, c = rest.partition(":")
                if t in tables and t in TABLES:
                    _, fks = TABLES[t]
                    if kind == "fk" and c in fks:
                        yield (t, "fk", c)
                    elif kind == "col" and c in [f.name for f in self.table(t).schema.fields]:
                        yield (t, "col", c)
            return
        # unbound predicate: every column / fk / type of every table
        for t in tables:
            pks, fks = TABLES[t]
            yield (t, "type", None)
            for f_ in self._value_fields(t):
                yield (t, "col", f_.name)
            for c in fks:
                yield (t, "fk", c)

    def _value_fields(self, table: str) -> list[T.StructField]:
        """The columns exposed as ``urn:col:`` quads: scalar, non-internal."""
        return [
            f_ for f_ in self.table(table).schema.fields
            if not f_.name.startswith("__") and not isinstance(
                f_.dataType, (T.ArrayType, T.MapType, T.StructType))
        ]

    def _branch_df(self, pattern: A.QuadPattern, table: str, kind: str, col: str | None):
        df = self.table(table)
        pks, fks = TABLES[table]

        if kind == "col":
            dtype = dict((f.name, f.dataType) for f in df.schema.fields)[col]
            df = df.filter(F.col(col).isNotNull())
            p_lex = f"urn:col:{table}:{col}"
            o_term = term_from_spark_col(F.col(col), dtype, nonnull=True)
        elif kind == "fk":
            target = fks[col]
            df = df.filter(F.col(col).isNotNull())
            p_lex = f"urn:fk:{table}:{col}"
            o_term = iri_col(
                F.concat_ws(":", F.lit(f"urn:t:{target}"), F.col(col).cast("string")),
                nonnull=True,
            )
        else:  # type
            p_lex, o_term = RDF_TYPE, iri(f"urn:class:{table}").as_column()

        # bound-position filters on NATIVE columns (parquet pushdown)
        if isinstance(pattern.s, PyTerm):
            parsed = self.parse_row_iri(pattern.s.lex) if pattern.s.kind == KIND_IRI else None
            if parsed is None or parsed[0] != table or len(parsed[1]) != len(pks):
                return None
            for pk, val in zip(pks, parsed[1]):
                df = df.filter(F.col(pk).cast("string") == val)
        o = pattern.o
        if isinstance(o, PyTerm):
            if kind == "col":
                if o.kind != KIND_LITERAL:
                    return None
                if o.num is not None:
                    df = df.filter(F.col(col).cast("double") == o.num)
                else:
                    df = df.filter(F.col(col).cast("string") == o.lex)
            elif kind == "fk":
                parsed = self.parse_row_iri(o.lex) if o.kind == KIND_IRI else None
                if parsed is None or parsed[0] != fks[col] or len(parsed[1]) != 1:
                    return None
                df = df.filter(F.col(col).cast("string") == parsed[1][0])
            else:
                if not (o.kind == KIND_IRI and o.lex == f"urn:class:{table}"):
                    return None
        # bind-join seed columns: the raw key column behind a var whose
        # lexical form is a row IRI, so a VALUES-seeded pre-filter can be
        # inverted to `pk IN (...)` on the native column (parquet
        # PushedFilters) instead of an un-pushable isin over concat(...)
        seeds: dict[str, Column] = {}
        if isinstance(pattern.s, A.Var) and pattern.s.binding and len(pks) == 1:
            seeds[f"__bind_{pattern.s.name}__{table}"] = F.col(pks[0])
        if kind == "fk" and isinstance(o, A.Var) and o.binding:
            seeds[f"__bind_{o.name}__{fks[col]}"] = F.col(col)
        terms = {
            "s": iri_col(self.row_iri(table), nonnull=True),
            "p": iri(p_lex).as_column(),
            "o": o_term,
            "g": iri(f"urn:g:{table}").as_column(),
        }
        return _assign(pattern, terms, df, extra=seeds)

    # -- star-join collapse (S2RDF property-table trick) ------------------
    def _pred_info(self, p: PyTerm) -> tuple[str | None, str, str | None] | None:
        """(table, kind, col) for a bound predicate; table None for
        rdf:type (any table)."""
        if p.kind != KIND_IRI:
            return None
        if p.lex == RDF_TYPE:
            return (None, "type", None)
        if p.lex.startswith("urn:col:") or p.lex.startswith("urn:fk:"):
            kind = "col" if p.lex.startswith("urn:col:") else "fk"
            rest = p.lex.split(":", 2)[2]
            t, _, c = rest.partition(":")
            if t in TABLES:
                return (t, kind, c)
        return None

    def scan_star(self, patterns: list[A.QuadPattern]) -> DataFrame | None:
        """Collapse a star of patterns sharing one subject into a SINGLE
        table scan with multi-column projection — the decisive scale
        optimization over pattern-per-join plans (S2RDF property tables,
        PAPERS.md; analog of the reference's PlanningQuadStore store-
        optimized BGP hook, QueryPlanner.swift:94-103,449-457).

        Requirements: ≥2 patterns, all predicates bound, all resolving
        to the same table (rdf:type joins in). Returns None when the
        star cannot collapse (caller falls back to per-pattern scans).
        """
        if len(patterns) < 2:
            return None
        infos = []
        table = None
        for pat in patterns:
            if not isinstance(pat.p, PyTerm):
                return None
            info = self._pred_info(pat.p)
            if info is None:
                return None
            t = info[0]
            if t is not None:
                if table is None:
                    table = t
                elif table != t:
                    # contradictory star: a subject lives in exactly one
                    # table → empty result
                    return self._empty(patterns)
            infos.append(info)
            if isinstance(pat.g, PyTerm) and t is not None and pat.g.lex != f"urn:g:{t}":
                return self._empty(patterns)
        if table is None or table not in self.table_names:
            return None

        df = self.table(table)
        pks, fks = TABLES[table]
        fields = {f.name: f.dataType for f in df.schema.fields}
        terms: dict[str, Column] = {"__s": iri_col(self.row_iri(table), nonnull=True)}
        cond = None
        out_cols: dict[str, Column] = {}
        seen_vars: dict[str, Column] = {}

        def bind(node, colx: Column, native=None):
            nonlocal cond, df
            if isinstance(node, PyTerm):
                c = term_key(colx).eqNullSafe(F.lit(node.key())) if native is None else native
                cond = c if cond is None else (cond & c)
            else:
                if node.name in seen_vars:
                    c = term_key(colx).eqNullSafe(term_key(seen_vars[node.name]))
                    cond = c if cond is None else (cond & c)
                else:
                    seen_vars[node.name] = colx
                    if node.binding:
                        out_cols[node.name] = colx

        # subject (same node for all patterns by construction)
        subj = patterns[0].s
        if isinstance(subj, PyTerm):
            parsed = self.parse_row_iri(subj.lex) if subj.kind == KIND_IRI else None
            if parsed is None or parsed[0] != table or len(parsed[1]) != len(pks):
                return self._empty(patterns)
            for pk, val in zip(pks, parsed[1]):
                df = df.filter(F.col(pk).cast("string") == val)
        else:
            bind(subj, iri_col(self.row_iri(table), nonnull=True))

        for pat, (t, kind, c) in zip(patterns, infos):
            if kind == "type":
                o_term = iri(f"urn:class:{table}").as_column()
                if isinstance(pat.o, PyTerm) and pat.o.lex != f"urn:class:{table}":
                    return self._empty(patterns)
                bind(pat.o, o_term)
            elif kind == "fk":
                if c not in fks:
                    return self._empty(patterns)
                df = df.filter(F.col(c).isNotNull())
                o_term = iri_col(
                    F.concat_ws(":", F.lit(f"urn:t:{fks[c]}"), F.col(c).cast("string")),
                    nonnull=True,
                )
                if isinstance(pat.o, PyTerm):
                    parsed = self.parse_row_iri(pat.o.lex) if pat.o.kind == KIND_IRI else None
                    if parsed is None or parsed[0] != fks[c] or len(parsed[1]) != 1:
                        return self._empty(patterns)
                    df = df.filter(F.col(c).cast("string") == parsed[1][0])
                    bind(pat.o, o_term, native=F.lit(True))
                else:
                    bind(pat.o, o_term)
            else:
                if c not in fields:
                    return self._empty(patterns)
                df = df.filter(F.col(c).isNotNull())
                o_term = term_from_spark_col(F.col(c), fields[c], nonnull=True)
                if isinstance(pat.o, PyTerm):
                    if pat.o.kind != KIND_LITERAL:
                        return self._empty(patterns)
                    if pat.o.num is not None:
                        df = df.filter(F.col(c).cast("double") == pat.o.num)
                    else:
                        df = df.filter(F.col(c).cast("string") == pat.o.lex)
                    bind(pat.o, o_term, native=F.lit(True))
                else:
                    bind(pat.o, o_term)
            # graph variable binds to this table's graph
            if isinstance(pat.g, A.Var):
                bind(pat.g, iri(f"urn:g:{table}").as_column())

        if cond is not None:
            df = df.filter(cond)
        if not out_cols:
            return df.select()
        # bind-join seed columns (single table by construction, so always
        # sound): subject var → pk column; fk object vars → fk column
        seeds: dict[str, Column] = {}
        if isinstance(subj, A.Var) and subj.binding and len(pks) == 1:
            seeds[f"__bind_{subj.name}__{table}"] = F.col(pks[0])
        for pat, (t, kind, c) in zip(patterns, infos):
            if kind == "fk" and isinstance(pat.o, A.Var) and pat.o.binding:
                seeds[f"__bind_{pat.o.name}__{fks[c]}"] = F.col(c)
        cols = [c.alias(n) for n, c in out_cols.items()]
        cols.extend(c.alias(n) for n, c in seeds.items())
        return df.select(*cols)

    def _empty(self, patterns: list[A.QuadPattern]) -> DataFrame:
        vars_ = sorted(set().union(*[p.variables() for p in patterns]))
        from kineo_spark.model import TERM_SCHEMA
        schema = T.StructType([T.StructField(v, TERM_SCHEMA) for v in vars_])
        return self.spark.createDataFrame([], schema)

    @staticmethod
    def _seeded_vars(df: DataFrame) -> set[str]:
        return {
            c[len("__bind_"):].rsplit("__", 1)[0]
            for c in df.columns if c.startswith("__bind_")
        }

    def scan(self, pattern: A.QuadPattern) -> DataFrame:
        dfs = [
            b
            for table, kind, col in self._branches(pattern)
            if (b := self._branch_df(pattern, table, kind, col)) is not None
        ]
        out: DataFrame | None = None
        if dfs:
            # a bind-seed column survives the branch union only when EVERY
            # branch seeds that var (a branch binding the var to literals
            # has no row-IRI key to invert — keeping the seed would wrongly
            # drop its rows under an OR-of-IN filter)
            common = set.intersection(*[self._seeded_vars(d) for d in dfs])
            pruned = []
            for d in dfs:
                drop = [
                    c for c in d.columns if c.startswith("__bind_")
                    and c[len("__bind_"):].rsplit("__", 1)[0] not in common
                ]
                pruned.append(d.drop(*drop) if drop else d)
            out = pruned[0]
            for d in pruned[1:]:
                out = out.unionByName(d, allowMissingColumns=True)
        if out is None:
            # no branch matches: empty result with the right columns
            vars_ = sorted(pattern.variables())
            schema = T.StructType(
                [T.StructField(v, __import__("kineo_spark.model", fromlist=["TERM_SCHEMA"]).TERM_SCHEMA) for v in vars_]
            )
            return self.spark.createDataFrame([], schema)
        return out

    def _melt_table(self, table: str) -> DataFrame:
        """Every quad of one table from ONE parquet scan: each row
        explodes into its rdf:type, column and FK quads (S2RDF loads a
        table's vertical partitions in one pass the same way). Each
        element carries whether its native value is non-NULL; NULL
        elements are dropped after the explode — the same rows the
        per-branch ``isNotNull`` filters of ``scan`` keep, with the same
        non-nullable p/kind columns."""
        df = self.table(table)
        _, fks = TABLES[table]

        def quad(p_lex: str, o_term: Column, ok: Column) -> Column:
            return F.struct(F.lit(p_lex).alias("p_lex"), o_term.alias("o"),
                            ok.alias("ok"))

        elems = [quad(RDF_TYPE, iri(f"urn:class:{table}").as_column(),
                      F.lit(True))]
        for f_ in self._value_fields(table):
            c = F.col(f_.name)
            elems.append(quad(
                f"urn:col:{table}:{f_.name}",
                term_from_spark_col(c, f_.dataType, nonnull=True),
                c.isNotNull()))
        for col, target in fks.items():
            c = F.col(col)
            elems.append(quad(
                f"urn:fk:{table}:{col}",
                iri_col(F.concat_ws(":", F.lit(f"urn:t:{target}"),
                                    c.cast("string")), nonnull=True),
                c.isNotNull()))
        melted = df.select(self.row_iri(table).alias("s_lex"),
                           F.explode(F.array(*elems)).alias("__q")) \
            .filter(F.col("__q.ok"))
        o = F.col("__q.o")
        return melted.select(
            F.lit(KIND_IRI).cast("tinyint").alias("s_kind"), "s_lex",
            F.col("__q.p_lex").alias("p_lex"),
            o["kind"].alias("o_kind"), o["lex"].alias("o_lex"),
            o["dt"].alias("o_dt"), o["lang"].alias("o_lang"),
            o["num"].alias("o_num"), F.lit(f"urn:g:{table}").alias("g_lex"),
        )

    def quads(self) -> DataFrame:
        """All quads, one scan per table (``_melt_table``) — not one per
        (table, column) branch as an unbound ``scan(?s ?p ?o ?g)``
        would plan, so a full-corpus consumer (the ID dictionary build,
        characteristic sets, dumps) reads each table once."""
        parts = [self._melt_table(t) for t in self.table_names]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out
