"""One-pass quad melt and dictionary build.

``RelationalQuadStore.quads()`` reads each table once (one explode per
row instead of one parquet scan per (table, column) branch), and
``encode_quads`` interns the four quad positions in one pass. These
tests pin that the outputs are the ones the per-branch plan produced,
that the plans keep their one-scan-per-table shape, and that per-store
derived state (ID views, characteristic sets) dies with its store."""

import gc
import re
from collections import Counter

import pytest

from kineo_spark import algebra as A
from kineo_spark.dictionary import IdEncodedView, encode_quads
from kineo_spark.model import KIND_BLANK, KIND_IRI, KIND_LITERAL, QUADS_SCHEMA
from kineo_spark.store import TABLES, QuadsDataFrameStore, RelationalQuadStore

ANALYTIC = ["orders", "customer", "nation", "region"]


def _rows(df) -> Counter:
    return Counter(tuple(r) for r in df.collect())


def _flat_scan(store) -> "object":
    """The per-branch union: an unbound pattern scan, flattened to the
    FIXTURES §0 columns."""
    df = store.scan(A.QuadPattern(A.Var("s"), A.Var("p"), A.Var("o"), A.Var("g")))
    return df.select(
        df["s"]["kind"].alias("s_kind"), df["s"]["lex"].alias("s_lex"),
        df["p"]["lex"].alias("p_lex"),
        df["o"]["kind"].alias("o_kind"), df["o"]["lex"].alias("o_lex"),
        df["o"]["dt"].alias("o_dt"), df["o"]["lang"].alias("o_lang"),
        df["o"]["num"].alias("o_num"), df["g"]["lex"].alias("g_lex"),
    )


@pytest.mark.parametrize("table", list(TABLES))
def test_quads_equal_flattened_scan(spark, rel_store, table):
    store = RelationalQuadStore(spark, rel_store.sf_dir, tables=[table])
    q = store.quads()
    assert q.columns == [f.name for f in QUADS_SCHEMA.fields]
    want = _rows(_flat_scan(store))
    assert want
    assert _rows(q) == want


def test_quads_drop_null_values_and_fks(spark, tmp_path):
    """A NULL value column and a NULL FK yield no quad for that row,
    exactly like the per-branch ``isNotNull`` filters; every other quad
    of the row survives."""
    d = str(tmp_path)
    spark.createDataFrame(
        [(0, "AFRICA"), (1, None)], "r_regionkey int, r_name string",
    ).write.parquet(f"{d}/region.parquet")
    spark.createDataFrame(
        [(0, "ALGERIA", 0), (1, None, 1), (2, "BRAZIL", None), (3, None, None)],
        "n_nationkey int, n_name string, n_regionkey int",
    ).write.parquet(f"{d}/nation.parquet")
    store = RelationalQuadStore(spark, d, tables=["nation", "region"])
    got = _rows(store.quads())
    assert got == _rows(_flat_scan(store))
    preds = Counter((r[1], r[2]) for r in got)
    name, fk = "urn:col:nation:n_name", "urn:fk:nation:n_regionkey"
    assert {s for s, p in preds if p == name} == {
        "urn:t:nation:0", "urn:t:nation:2"}
    # an FK column is also a value column: both quads go together
    for p_ in (fk, "urn:col:nation:n_regionkey"):
        assert {s for s, p in preds if p == p_} == {
            "urn:t:nation:0", "urn:t:nation:1"}
    assert {s for s, p in preds if p == "urn:col:region:r_name"} == {
        "urn:t:region:0"}
    # type + key quads of the all-NULL row are still there
    assert preds[("urn:t:nation:3", "urn:col:nation:n_nationkey")] == 1
    # 6 types + 6 keys + 3 names + 2 FK values + 2 FK links
    assert sum(got.values()) == 19


@pytest.mark.parametrize("key_bits", [64, 128])
def test_encode_quads_dictionary_oracle(spark, key_bits):
    """The dictionary is exactly the distinct (kind, lex, dt, lang)
    terms of the four positions, one id each, and id_quads carries the
    dictionary id of every position."""
    G, X = "urn:g:a", "http://example.org/"
    rows = [
        (KIND_IRI, X + "s", X + "p", KIND_LITERAL, "1", "integer", None, 1.0, G),
        (KIND_IRI, X + "s", X + "p", KIND_LITERAL, "1", "string", None, None, G),
        (KIND_IRI, X + "s", X + "p", KIND_LITERAL, "chat", "langString", "fr", None, G),
        (KIND_IRI, X + "s", X + "p", KIND_LITERAL, "chat", "langString", "en", None, "urn:g:b"),
        (KIND_BLANK, "b0", X + "q", KIND_IRI, X + "s", None, None, None, G),
        # an IRI used as subject, predicate, object and graph
        (KIND_IRI, X + "p", X + "p", KIND_IRI, G, None, None, None, X + "p"),
        (KIND_BLANK, "b0", X + "q", KIND_LITERAL, "2.5", "double", None, 2.5, G),
        (KIND_BLANK, "b0", X + "q", KIND_LITERAL, "2.5", "double", None, 2.5, G),
    ]
    dictionary, id_quads = encode_quads(
        spark.createDataFrame(rows, QUADS_SCHEMA), key_bits=key_bits)

    want: dict = {}
    for sk, s, p, ok, o, dt, lang, num, g in rows:
        for key, n in (((sk, s, None, None), None), ((KIND_IRI, p, None, None), None),
                       ((ok, o, dt, lang), num), ((KIND_IRI, g, None, None), None)):
            want[key] = n
    got = dictionary.collect()
    assert len(got) == len(want)
    assert {(r["kind"], r["lex"], r["dt"], r["lang"]): r["num"] for r in got} == want
    ids = {(r["kind"], r["lex"], r["dt"] or "", r["lang"] or ""): r["id"]
           for r in got}
    assert len(set(ids.values())) == len(got)
    if key_bits == 128:
        assert dictionary.schema["id"].dataType.typeName() == "struct"

    iq = id_quads.collect()
    assert len(iq) == len(rows)
    expect = Counter(
        (ids[(sk, s, "", "")], ids[(KIND_IRI, p, "", "")],
         ids[(ok, o, dt or "", lang or "")], ids[(KIND_IRI, g, "", "")])
        for sk, s, p, ok, o, dt, lang, num, g in rows)
    assert Counter((r["s"], r["p"], r["o"], r["g"]) for r in iq) == expect


def _final_plan(df) -> str:
    plan = df._jdf.queryExecution().executedPlan().toString()
    # adaptive plans print the final plan, then the initial one
    return plan.split("== Initial Plan ==")[0]


def test_view_plans_scan_each_table_once(spark, rel_store):
    """Plan-shape guard: the cached dictionary and id_quads of an ID
    view each read every table with exactly ONE parquet FileScan (the
    per-column branch union read each table once per column)."""
    store = RelationalQuadStore(spark, rel_store.sf_dir, tables=ANALYTIC)
    view = IdEncodedView.for_store(store, key_bits=128)
    for df in (view.dictionary, view.id_quads):
        plan = _final_plan(df)
        scans = re.findall(r"FileScan parquet .*?/(\w+)\.parquet\]", plan)
        assert Counter(scans) == Counter(ANALYTIC), plan


def _cached_table_rdds(spark) -> int:
    """Persistent RDDs of cached DataFrames. Spark names each after its
    plan; the unnamed ones are the localCheckpoint RDDs GraphStore keeps
    per update, which the JVM releases on its own schedule."""
    rdds = spark.sparkContext._jsc.getPersistentRDDs()
    return sum(1 for r in rdds.values() if r.name() is not None)


def test_id_views_released_with_their_store(spark):
    """Every ID-mode Modify builds an IdEncodedView for a throw-away
    store; the cached dictionary + id_quads must go when the store does,
    not stay pinned for the rest of the session."""
    from kineo_spark.update import GraphStore

    G, X = "urn:g:default", "http://example.org/"
    quads = spark.createDataFrame(
        [(KIND_IRI, f"{X}s{i}", X + "p", KIND_LITERAL, f"v{i}", "string",
          None, None, G) for i in range(10)], QUADS_SCHEMA)
    live = QuadsDataFrameStore(spark, quads)
    live_view = IdEncodedView.for_store(live, key_bits=128)
    assert IdEncodedView.for_store(live, key_bits=128) is live_view
    gc.collect()
    base = _cached_table_rdds(spark)
    gs = GraphStore(spark, quads, key_bits=128)
    for i in range(3):
        gs.update(f'DELETE {{ ?s <{X}p> ?o }} INSERT {{ ?s <{X}p> "w{i}" }} '
                  f'WHERE {{ ?s <{X}p> ?o }}')
    assert sorted(r["o_lex"] for r in gs.quads.collect()) == ["w2"] * 10
    gc.collect()
    assert _cached_table_rdds(spark) <= base
    # the live store keeps its view, still cached — although the first
    # Modify's store wrapped the same DataFrame, so both views shared
    # one cache entry (Spark keys cached data by plan)
    assert live_view.dictionary.storageLevel.useMemory
    assert live_view.id_quads.storageLevel.useMemory
    del live, live_view
    gc.collect()
    assert _cached_table_rdds(spark) <= base - 2


def test_characteristic_sets_die_with_their_store(spark, fixture_store):
    import weakref

    from kineo_spark.stats import CharacteristicSets

    store = QuadsDataFrameStore(spark, fixture_store.quads())
    cs = CharacteristicSets.for_store(store)
    assert CharacteristicSets.for_store(store) is cs
    ref = weakref.ref(cs)
    del store, cs
    gc.collect()
    assert ref() is None


def test_tie_to_store_refcount_under_thread_churn():
    """Stores tied to an equal plan share one cache entry: it is
    unpersisted exactly once, when the LAST holder dies — also while
    many threads create and drop holders at once (a lost update on the
    holder count would unpersist under a live store, or never)."""
    import sys
    import threading

    from kineo_spark import store as store_mod

    class FakeDF:
        def __init__(self):
            self.unpersists = 0

        def semanticHash(self):
            return -424242

        def unpersist(self):
            self.unpersists += 1

    class Holder:
        pass

    df = FakeDF()
    live = Holder()
    store_mod.tie_to_store(live, df)

    def churn():
        for _ in range(300):
            h = Holder()
            store_mod.tie_to_store(h, df)
            del h

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=churn) for _ in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
        assert not any(t.is_alive() for t in threads)
    finally:
        sys.setswitchinterval(old)
    gc.collect()
    assert df.unpersists == 0
    assert store_mod._PERSIST_HOLDERS[-424242] == 1
    del live
    gc.collect()
    assert df.unpersists == 1
    assert -424242 not in store_mod._PERSIST_HOLDERS
