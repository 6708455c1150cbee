"""Seeded input generation for the benchmark.

Every table the engine's relational mapping knows (region, nation,
customer, supplier, part, orders, lineitem, events, documents,
embeddings) is written as parquet with the column names and types of the
engine's fixture tables, scaled by ``sf`` (sf=1 would be TPC-H-sized
row counts). The same seed always gives byte-identical inputs.

The curation corpus is derived from documents.parquet the way a dedup
benchmark plants its ground truth: some documents get a copy with
seeded word substitutions (a near-duplicate pair whose word-3-gram
Jaccard is computed here, exactly), others get an exact copy that
differs only in case and whitespace.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
STATUSES = ["F", "O", "P"]
PART_ADJ = ["small", "large", "red", "blue", "green", "shiny", "matte", "heavy"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "plate", "spring", "valve", "pipe"]
PART_TYPES = ["ECONOMY", "SMALL", "STANDARD", "PROMO", "LARGE"]
EVENT_TYPES = ["click", "view", "error", "purchase"]
LANGS = ["en", "de", "fr", "es", "zh"]
STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]
EMBED_DIM = 64

_EPOCH_1992_US = 694_224_000 * 1_000_000
_DAY_US = 86_400 * 1_000_000


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _vocab(rng, n: int = 400) -> list[str]:
    syl = ["ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "ze", "pa",
           "qu", "di", "fo", "ga", "he", "ju", "be", "co", "xe", "ya"]
    words: set[str] = set()
    while len(words) < n:
        k = int(rng.integers(2, 4))
        words.add("".join(syl[int(i)] for i in rng.integers(0, len(syl), k)))
    return sorted(words)


def _doc_words(rng, vocab: list[str], n_words: int) -> list[str]:
    words = [vocab[int(i)] for i in rng.integers(0, len(vocab), n_words)]
    # a stopword every ~6 words keeps the Gopher stopword rule satisfied
    for pos in range(0, n_words, 6):
        words[pos] = STOPWORDS[int(rng.integers(0, len(STOPWORDS)))]
    return words


def trigram_set(text: str) -> set[str]:
    """Word 3-grams over whitespace tokens — the shingling
    ``dedup.minhash_dedup_pairs`` uses with its default n=3."""
    w = text.split()
    return {" ".join(w[i:i + 3]) for i in range(len(w) - 2)}


def jaccard(a: str, b: str) -> float:
    sa, sb = trigram_set(a), trigram_set(b)
    return len(sa & sb) / len(sa | sb)


def generate_tables(out_dir: str, seed: int, sf: float,
                    n_doc: int | None = None, n_emb: int | None = None) -> dict[str, int]:
    """Write every table for ``sf`` under ``out_dir``; returns row counts.
    ``n_doc`` / ``n_emb`` override the scaled documents / embeddings
    sizes (the curation corpus is sized by its own batch size)."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_line = max(6000, int(6_000_000 * sf))
    n_ev = max(1000, int(1_000_000 * sf))
    n_doc = n_doc or max(500, int(50_000 * sf))
    n_emb = n_emb or max(500, int(20_000 * sf))

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
    })
    adj = np.array(PART_ADJ)[rng.integers(0, len(PART_ADJ), n_part)]
    noun = np.array(PART_NOUN)[rng.integers(0, len(PART_NOUN), n_part)]
    _write(out_dir, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.char.add(np.char.add(adj, " "), noun),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(PART_TYPES)[rng.integers(0, 5, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": _money(rng, n_part, 900.0, 2100.0),
    })
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(STATUSES)[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, n_ord, 800.0, 500_000.0),
        "o_orderdate": pa.array(
            _EPOCH_1992_US + rng.integers(0, 2_500, n_ord) * _DAY_US,
            pa.timestamp("us")),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, n_line, 900.0, 100_000.0),
        "l_discount": np.round(rng.integers(0, 11, n_line) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_line) / 100.0, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": pa.array(
            _EPOCH_1992_US + rng.integers(0, 2_600, n_line) * _DAY_US,
            pa.timestamp("us")),
    })
    _write(out_dir, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(
            1_704_067_200 * 1_000_000
            + np.cumsum(rng.integers(1, 300_000_000, n_ev)),
            pa.timestamp("us")),
        "user_id": rng.integers(0, 100, n_ev).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 4, n_ev)],
        "value": _money(rng, n_ev, 0.0, 20.0),
        "props": [f'{{"k": {int(k)}}}' for k in rng.integers(0, 100, n_ev)],
    })
    vocab = _vocab(rng)
    texts = [" ".join(_doc_words(rng, vocab, int(rng.integers(40, 100))))
             for _ in range(n_doc)]
    _write(out_dir, "documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, 5, n_doc)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    emb = rng.standard_normal((n_emb, EMBED_DIM)).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb).astype(np.int32),
    })
    return {"customer": n_cust, "supplier": n_supp, "part": n_part,
            "orders": n_ord, "lineitem": n_line, "events": n_ev,
            "documents": n_doc, "embeddings": n_emb}


def derive_corpus(docs: list[dict], out_path: str, seed: int,
                  near_frac: float, exact_frac: float) -> dict:
    """Write a curation batch derived from ``docs`` (rows of
    documents.parquet): the originals, one edited copy for ``near_frac``
    of them and one case/whitespace-changed exact copy for
    ``exact_frac`` of them. Copies get ids above every original's.

    Returns the ground truth: ``near`` maps (original id, copy id) to
    the pair's true word-3-gram Jaccard, ``exact`` lists
    (original id, copy id), ``texts`` maps every id to its text."""
    rng = np.random.default_rng(seed)
    vocab = sorted({w for d in docs for w in d["text"].split()})
    texts = {d["doc_id"]: d["text"] for d in docs}
    ids = list(texts)
    next_id = max(ids) + 1
    order = rng.permutation(len(ids))
    n_near = int(near_frac * len(ids))
    n_exact = int(exact_frac * len(ids))
    near: dict[tuple[int, int], float] = {}
    exact: list[tuple[int, int]] = []
    for j in order[:n_near]:
        orig = texts[ids[j]]
        words = orig.split()
        # 1..9% of words substituted: true Jaccard spans ~0.7..0.97 with
        # a tail below the 0.6 MinHash threshold for short documents
        n_edit = max(1, int(len(words) * rng.uniform(0.01, 0.09)))
        for pos in rng.choice(len(words), n_edit, replace=False):
            words[int(pos)] = vocab[int(rng.integers(0, len(vocab)))]
        edited = " ".join(words)
        if edited == orig:
            continue
        near[(ids[j], next_id)] = jaccard(orig, edited)
        texts[next_id] = edited
        next_id += 1
    for j in order[n_near:n_near + n_exact]:
        exact.append((ids[j], next_id))
        texts[next_id] = "  " + texts[ids[j]].upper().replace(" ", "   ") + " "
        next_id += 1
    pq.write_table(pa.table({
        "doc_id": pa.array(list(texts), pa.int64()),
        "text": list(texts.values()),
    }), out_path)
    return {"near": near, "exact": exact, "texts": texts}
