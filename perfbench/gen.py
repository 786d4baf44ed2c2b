"""Seeded input generators for every workload.

Everything the engine sees is made here from ``--seed`` alone: the same
seed gives byte-identical tables. Sizes are fixed per workload (``SIZES``);
``tiny`` is the smoke-test size. Vectors are float64 lists, text is ASCII
lowercase words drawn from a Zipf vocabulary, so common terms occur in most
documents and rare terms in a handful.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: per-workload input sizes and warm-up lengths; "full" is what the
#: benchmark measures
SIZES = {
    "full": {
        "hybrid_docs": 3000, "hybrid_dim": 64,
        "batch_docs": 8000, "batch_dim": 32, "batch_cells": 16, "batch_probe": 2,
        "batch_queries": 64,
        "prep_docs": 600,
        "catalog_scale": 0.02,
        "hybrid_warm": 10, "catalog_warm_rounds": 2,
    },
    "tiny": {
        "hybrid_docs": 300, "hybrid_dim": 16,
        "batch_docs": 800, "batch_dim": 8, "batch_cells": 4, "batch_probe": 2,
        "batch_queries": 8,
        "prep_docs": 120,
        "catalog_scale": 0.002,
        "hybrid_warm": 1, "catalog_warm_rounds": 1,
    },
}

STOPWORDS_SAMPLE = ("the", "and", "for", "with", "that", "this", "from", "are")
_CONS = "bcdfghjklmnprstvz"
_VOWS = "aeiou"


def vocabulary(rng: np.random.Generator, n: int) -> list[str]:
    """``n`` distinct pronounceable lowercase words of 4-7 letters."""
    words: set[str] = set()
    out: list[str] = []
    while len(out) < n:
        syl = int(rng.integers(2, 4))
        w = "".join(_CONS[rng.integers(len(_CONS))] + _VOWS[rng.integers(len(_VOWS))] for _ in range(syl))
        if rng.random() < 0.5:
            w += _CONS[rng.integers(len(_CONS))]
        if w not in words:
            words.add(w)
            out.append(w)
    return out


def zipf_weights(n: int, s: float = 1.1) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


def _texts(rng, vocab, p, n_docs, lo, hi, stop_frac=0.12) -> list[str]:
    lens = rng.integers(lo, hi + 1, size=n_docs)
    words = np.asarray(vocab, dtype=object)[rng.choice(len(vocab), size=int(lens.sum()), p=p)]
    stop = rng.random(words.size) < stop_frac
    words[stop] = np.asarray(STOPWORDS_SAMPLE, dtype=object)[rng.integers(len(STOPWORDS_SAMPLE), size=int(stop.sum()))]
    cuts = np.cumsum(lens)[:-1]
    return [" ".join(chunk) for chunk in np.split(words, cuts)]


def clustered_vectors(rng, n, dim, n_clusters, spread=0.35) -> np.ndarray:
    centres = rng.standard_normal((n_clusters, dim))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    lab = rng.integers(n_clusters, size=n)
    return centres[lab] + spread * rng.standard_normal((n, dim)) / np.sqrt(dim)


def write_table(path: str, columns: dict) -> int:
    """Write one parquet file; returns its size in bytes."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.table(columns), path)
    return os.path.getsize(path)


# ---------------------------------------------------------------- search


def search_corpus(seed: int, n_docs: int, dim: int, n_queries: int, vocab_size: int = 3000) -> dict:
    """Corpus (ids, texts, vectors) plus an endless-enough query stream.

    Queries: a vector near a random document (so the dense arm has real
    neighbours) and a text of one common, one mid-frequency and one rare
    term plus a stopword (which the BM25 arm must drop).
    """
    rng = np.random.default_rng(seed)
    vocab = vocabulary(rng, vocab_size)
    p = zipf_weights(vocab_size)
    vecs = clustered_vectors(rng, n_docs, dim, n_clusters=max(4, n_docs // 200))
    texts = _texts(rng, vocab, p, n_docs, 20, 60)
    q_vecs, q_texts = [], []
    for _ in range(n_queries):
        base = vecs[rng.integers(n_docs)]
        q_vecs.append(base + 0.3 * rng.standard_normal(dim) / np.sqrt(dim))
        terms = [
            vocab[rng.integers(0, 30)],
            vocab[rng.integers(30, 300)],
            vocab[rng.integers(300, vocab_size)],
            STOPWORDS_SAMPLE[rng.integers(len(STOPWORDS_SAMPLE))],
        ]
        rng.shuffle(terms)
        q_texts.append(" ".join(terms))
    return {
        "ids": np.arange(n_docs, dtype=np.int64),
        "texts": texts,
        "vecs": vecs,
        "q_vecs": np.array(q_vecs),
        "q_texts": q_texts,
    }


def write_search_corpus(corpus: dict, path: str) -> int:
    return write_table(path, {
        "doc_id": pa.array(corpus["ids"]),
        "text": pa.array(corpus["texts"]),
        "embedding": pa.array([list(map(float, v)) for v in corpus["vecs"]], pa.list_(pa.float64())),
    })


# ---------------------------------------------------------------- corpus prep

PREP_LANGS = ("de", "fr", "es", "zh")
JUNK_TAILS = ("Funding: none declared.", "Acknowledgments: the lab.", "Author contributions: all.")


def _variant(text: str, rng) -> str:
    """A near-duplicate that tokenizes identically: case, punctuation and
    whitespace changes only, so its shingle set (and MinHash signature)
    equals the original's while its bytes differ."""
    toks = text.split(" ")
    out = []
    for t in toks:
        r = rng.random()
        if r < 0.15:
            t = t.capitalize()
        elif r < 0.2:
            t = t + ","
        out.append(t)
    return "  ".join(out[:3]) + " " + " ".join(out[3:]) + "."


def raw_corpus(seed: int, n_docs: int) -> dict:
    """Raw documents with planted structure. Returns the columns plus the
    planted groups the checker needs:

    * ``near_groups``: lists of ids whose texts differ only in case,
      punctuation and spacing (one survivor allowed per group);
    * exact copies of earlier documents under new ids;
    * junk (acknowledgement/funding tails), low-quality fragments, and
      non-English documents, which the quality gate must drop.
    """
    rng = np.random.default_rng(seed + 7919)
    vocab = vocabulary(rng, 4000)
    p = zipf_weights(len(vocab))
    texts: list[str] = []
    langs: list[str] = []
    group_of: dict[int, int] = {}
    n_groups = 0

    def add(text, lang="en", group=None):
        texts.append(text)
        langs.append(lang)
        if group is not None:
            group_of[len(texts) - 1] = group
        return len(texts) - 1

    n_base = int(n_docs * 0.6)
    base = _texts(rng, vocab, p, n_base, 40, 120)
    for t in base:
        add(t)
    # near-duplicate groups: a base doc plus 1-2 formatting variants
    for g in rng.choice(n_base, size=int(n_docs * 0.05), replace=False):
        group_of[int(g)] = n_groups
        for _ in range(int(rng.integers(1, 3))):
            add(_variant(base[g], rng), group=n_groups)
        n_groups += 1
    # exact copies (a copy of a group member joins its group)
    while len(texts) < int(n_docs * 0.8):
        src = int(rng.integers(len(texts)))
        add(texts[src], langs[src], group_of.get(src))
    # junk, low-quality and foreign-language documents
    while len(texts) < n_docs:
        r = rng.random()
        if r < 0.3:
            add(_texts(rng, vocab, p, 1, 40, 80)[0] + " " + JUNK_TAILS[rng.integers(len(JUNK_TAILS))])
        elif r < 0.5:
            add("; ".join(rng.choice(vocab, size=int(rng.integers(2, 6)))) + " !!! ###")
        elif r < 0.8:
            add(_texts(rng, vocab, p, 1, 40, 80)[0], PREP_LANGS[rng.integers(len(PREP_LANGS))])
        else:
            add("数据 " + _texts(rng, vocab, p, 1, 20, 40)[0] + " 分析", "zh")
    # shuffle so planted rows are not id-ordered; doc_id = row position
    order = rng.permutation(len(texts))
    new_id = np.empty(len(texts), dtype=np.int64)
    new_id[order] = np.arange(len(texts))
    groups: list[list[int]] = [[] for _ in range(n_groups)]
    for old, g in group_of.items():
        groups[g].append(int(new_id[old]))
    cols = {
        "doc_id": np.arange(len(texts), dtype=np.int64),
        "text": [texts[i] for i in order],
        "lang": [langs[i] for i in order],
        "source": [f"src{int(s)}" for s in rng.integers(0, 8, len(texts))],
    }
    return {"columns": cols, "near_groups": [sorted(g) for g in groups]}


def write_raw_corpus(corpus: dict, path: str) -> int:
    c = corpus["columns"]
    return write_table(path, {
        "doc_id": pa.array(c["doc_id"]),
        "text": pa.array(c["text"]),
        "lang": pa.array(c["lang"]),
        "source": pa.array(c["source"]),
    })


# ---------------------------------------------------------------- catalog

_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_PTYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_PADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
_PNOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
_DOC_WORDS = (
    "spark window merge table column vector stream value data small join filter big "
    "group hash customer sort order slow line part fast row the agg key query a scan batch"
).split()
_DOC_LANGS = ("en", "en", "en", "de", "es", "fr", "zh")


def _ts(rng, n, start: dt.datetime, span_days: float) -> pa.Array:
    base = int(start.replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000)
    us = base + (rng.random(n) * span_days * 86_400_000_000).astype(np.int64)
    return pa.array(us, pa.timestamp("us"))


def _days(rng, n, start: dt.date, span_days: int) -> pa.Array:
    base = int(dt.datetime(start.year, start.month, start.day, tzinfo=dt.timezone.utc).timestamp())
    s = base + rng.integers(0, span_days, size=n).astype(np.int64) * 86_400
    return pa.array(s * 1_000_000, pa.timestamp("us"))


def catalog_tables(seed: int, scale: float, out_dir: str) -> dict[str, int]:
    """TPC-H-shaped star schema plus ``events`` and ``documents`` in the
    schema and value domains of the engine's test tables, at ``scale``
    (1.0 = 6M lineitems). Returns rows per table."""
    rng = np.random.default_rng(seed + 104729)
    n_cust = max(150, int(150_000 * scale))
    n_supp = max(10, int(10_000 * scale))
    n_part = max(200, int(200_000 * scale))
    n_ord = max(1500, int(1_500_000 * scale))
    n_li = 4 * n_ord
    n_ev = max(1000, int(1_000_000 * scale))
    n_users = max(50, n_ev // 66)
    n_docs = max(100, int(50_000 * scale))
    tables: dict[str, dict] = {}
    tables["region"] = {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
    }
    tables["nation"] = {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
    }
    tables["customer"] = {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
        "c_mktsegment": pa.array([_SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]),
    }
    tables["supplier"] = {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)),
    }
    tables["part"] = {
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array([f"{_PADJ[a]} {_PNOUN[b]}" for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))]),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)]),
        "p_type": pa.array([_PTYPES[i] for i in rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)),
    }
    tables["orders"] = {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": pa.array([("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)]),
        "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500000.0, n_ord), 2)),
        "o_orderdate": _days(rng, n_ord, dt.date(1995, 1, 1), 2404),
        "o_orderpriority": pa.array([_PRIORITIES[i] for i in rng.integers(0, 5, n_ord)]),
    }
    rf = rng.integers(0, 3, n_li)
    tables["lineitem"] = {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900.0, 105000.0, n_li), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array([("A", "N", "R")[i] for i in rf]),
        "l_linestatus": pa.array([("F", "O")[i] for i in rng.integers(0, 2, n_li)]),
        "l_shipdate": _days(rng, n_li, dt.date(1995, 1, 2), 2498),
    }
    ev_ts = np.sort(rng.random(n_ev))
    base_us = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp() * 1_000_000)
    tables["events"] = {
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(base_us + (ev_ts * 30 * 86_400_000_000).astype(np.int64), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev).astype(np.int64)),
        "event_type": pa.array([_EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)]),
        "value": pa.array(np.round(rng.exponential(60.0, n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    }
    d_texts = []
    for n in rng.integers(8, 100, n_docs):
        words = list(rng.choice(_DOC_WORDS, size=int(n)))
        if rng.random() < 0.05:
            words[int(rng.integers(len(words)))] = "dup"
        d_texts.append(" ".join(words))
    tables["documents"] = {
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(d_texts),
        "lang": pa.array([_DOC_LANGS[i] for i in rng.integers(0, len(_DOC_LANGS), n_docs)]),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array(np.array([len(t) for t in d_texts], dtype=np.int64)),
    }
    for name, cols in tables.items():
        write_table(os.path.join(out_dir, f"{name}.parquet"), cols)
    return {name: len(next(iter(cols.values()))) for name, cols in tables.items()}
