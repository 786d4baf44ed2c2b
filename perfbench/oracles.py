"""Reference computations made apart from the engine, and the checkers that
compare the engine's outputs against them.

Nothing here imports the engine. Each checker returns a list of problems;
an empty list means the output is correct. Scores are compared after the
engine's own rounding rule (6 decimals, half-up on the shortest decimal
form of the double), and two candidates whose reference scores differ by
at most ``TIE`` are treated as interchangeable.
"""

from __future__ import annotations

import hashlib
import math
import re
from collections import Counter
from decimal import ROUND_HALF_UP, Decimal

import numpy as np

TIE = 1e-6
K1 = 1.5
B = 0.75
RRF_K = 60

#: the tokenizer's stopword list (dropped from bm25_topk query strings)
STOPWORDS = frozenset(
    "the and for are but not you all can had her was one our out day get has him "
    "his how man new now old see two way who boy did its let put say she too use "
    "that with have this will your from they know want been good much some time "
    "very when come here just like long make many more only over such take than "
    "them well were what".split()
)

_SPLIT = re.compile(r"[^a-z0-9]+")


def tokenize(text: str, min_len: int = 3) -> list[str]:
    return [t for t in _SPLIT.split(text.lower()) if len(t) >= min_len]


def round6(x: float) -> float:
    return float(Decimal(repr(float(x))).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP))


def portable_hash64(s: str) -> int:
    """First 15 hex digits of md5(utf-8) as an integer (< 2**60)."""
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)


# ---------------------------------------------------------------- dense


def fold_norms(mat: np.ndarray) -> np.ndarray:
    """Row L2 norms summed left to right, as a sequential fold would."""
    return np.sqrt(np.cumsum(mat * mat, axis=1)[:, -1])


def cosine_scores(mat: np.ndarray, norms: np.ndarray, q: np.ndarray) -> np.ndarray:
    dots = np.cumsum(mat * q, axis=1)[:, -1]
    q_norm = math.sqrt(sum((float(x) * float(x) for x in q), 0.0))
    return dots / (norms * q_norm)


def ranked(ids, scores, k: int, rounded: bool = True) -> list[tuple[int, float]]:
    """Top-k (id, score) by score desc, id asc."""
    scores = np.asarray(scores, dtype=np.float64)
    ids = np.asarray(ids)
    k = min(k, len(ids))
    if k == 0:
        return []
    # only scores within rounding distance of the k-th best can reach the
    # top k once rounded; order those exactly on the rounded values
    kth = np.partition(scores, len(scores) - k)[len(scores) - k]
    cut = np.nonzero(scores >= kth - 2e-6)[0]
    cand = [(int(ids[i]), round6(scores[i]) if rounded else float(scores[i])) for i in cut]
    cand.sort(key=lambda t: (-t[1], t[0]))
    return cand[:k]


# ---------------------------------------------------------------- sparse


class BM25:
    """BM25 Okapi over a fixed corpus: ``n_docs`` and ``avgdl`` over
    documents with at least one token, ``df`` = documents containing the
    term, idf = ln((N - df + 0.5) / (df + 0.5) + 1); query terms count with
    their multiplicity."""

    def __init__(self, ids, texts):
        self.ids = [int(i) for i in ids]
        self.tf = [Counter(tokenize(t)) for t in texts]
        self.dl = [sum(c.values()) for c in self.tf]
        live = [d for d in self.dl if d > 0]
        self.n = float(len(live))
        self.avgdl = sum(live) / len(live)
        self.postings: dict[str, list[int]] = {}
        for i, c in enumerate(self.tf):
            for t in c:
                self.postings.setdefault(t, []).append(i)

    def scores(self, terms: list[str]) -> dict[int, float]:
        out: dict[int, float] = {}
        for t in terms:
            post = self.postings.get(t, [])
            df = float(len(post))
            idf = math.log((self.n - df + 0.5) / (df + 0.5) + 1.0)
            for i in post:
                tf = float(self.tf[i][t])
                c = idf * (tf * (K1 + 1.0)) / (tf + K1 * (1.0 - B + B * self.dl[i] / self.avgdl))
                out[self.ids[i]] = out.get(self.ids[i], 0.0) + c
        return out

    def topk(self, terms: list[str], k: int) -> list[tuple[int, float]]:
        s = self.scores(terms)
        return ranked(list(s), list(s.values()), k)


def query_terms(text: str) -> list[str]:
    """bm25_topk's query rule: tokenize, drop stopwords, keep repeats."""
    return [t for t in tokenize(text) if t not in STOPWORDS]


def rrf(arms: dict[str, list[tuple[int, float]]], weights: dict[str, float], k: int = RRF_K) -> dict[int, float]:
    """Reciprocal rank fusion of ranked arms, normalised so the best is 100."""
    raw: dict[int, float] = {}
    for name, rows in arms.items():
        for r, (i, _) in enumerate(rows):
            raw[i] = raw.get(i, 0.0) + weights[name] / (float(k) + r + 1)
    mx = max(raw.values())
    return {i: round6(v / mx * 100.0) for i, v in raw.items()}


# ---------------------------------------------------------------- checkers


def check_ranking(got: list[tuple[int, float]], want: list[tuple[int, float]], ref: dict[int, float], what: str) -> list[str]:
    """``got`` must equal ``want`` rank by rank; an id may differ from the
    reference's only when its reference score ties (within TIE) with the
    reference score at that rank."""
    problems = []
    if len(got) != len(want):
        return [f"{what}: {len(got)} rows, expected {len(want)}"]
    if len({i for i, _ in got}) != len(got):
        problems.append(f"{what}: repeated id in {[i for i, _ in got]}")
    for r, ((gi, gs), (wi, ws)) in enumerate(zip(got, want)):
        if abs(gs - ws) > TIE:
            problems.append(f"{what}: rank {r} score {gs} != {ws}")
        elif gi != wi and (gi not in ref or abs(ref[gi] - ws) > TIE):
            problems.append(f"{what}: rank {r} id {gi} != {wi}")
    return problems


def check_hybrid(got: list[tuple[int, float]], fused: dict[int, float], k: int = 10) -> list[str]:
    """Top-k of an RRF fusion: descending, best = 100, equal to the
    reference fusion."""
    problems = []
    scores = [s for _, s in got]
    if any(a < b for a, b in zip(scores, scores[1:])):
        problems.append(f"rrf_score not descending: {scores}")
    if not scores or abs(scores[0] - 100.0) > TIE:
        problems.append(f"max rrf_score {scores[:1]} != 100")
    want = ranked(list(fused), list(fused.values()), k, rounded=False)
    return problems + check_ranking(got, want, fused, "hybrid top-10")


def check_ivf(rows: dict[int, list[tuple[int, float]]], exact: dict[int, list[tuple[int, float]]], pair_score, k: int) -> list[str]:
    """IVF results per query: each score is the exact cosine of its pair,
    and the score at rank r never exceeds the exact rank-r score."""
    problems = []
    for qid, want in exact.items():
        got = rows.get(qid, [])
        if len(got) != min(k, len(want)) and len(got) > len(want):
            problems.append(f"query {qid}: {len(got)} rows")
        for r, (cid, s) in enumerate(got):
            ref = round6(pair_score(qid, cid))
            if abs(ref - s) > TIE:
                problems.append(f"query {qid}: pair ({qid},{cid}) score {s} != cosine {ref}")
            if r < len(want) and s > want[r][1] + TIE:
                problems.append(f"query {qid}: rank {r} score {s} above exact {want[r][1]}")
        scores = [s for _, s in got]
        if any(a < b for a, b in zip(scores, scores[1:])):
            problems.append(f"query {qid}: scores not descending")
    return problems


def recall_at_k(rows: dict[int, list[tuple[int, float]]], exact: dict[int, list[tuple[int, float]]]) -> float:
    hit = tot = 0
    for qid, want in exact.items():
        w = {i for i, _ in want}
        hit += len(w & {i for i, _ in rows.get(qid, [])})
        tot += len(w)
    return hit / tot


def check_prep(survivors: list[dict], manifest: list[dict], inputs: dict, keep_langs=("en",)) -> list[str]:
    """Training-data output read back from parquet.

    ``survivors``: rows (doc_id, text, split, shard); ``manifest``: rows
    (shard, n_docs, n_bytes, content_xor, id_xor); ``inputs``: the raw
    corpus as generated (columns + near_groups)."""
    problems = []
    cols = inputs["columns"]
    lang = {int(i): lg for i, lg in zip(cols["doc_id"], cols["lang"])}
    text = {int(i): t for i, t in zip(cols["doc_id"], cols["text"])}
    ids = [int(r["doc_id"]) for r in survivors]
    if len(set(ids)) != len(ids):
        problems.append("a survivor appears in more than one row (split/shard)")
    for r in survivors:
        i = int(r["doc_id"])
        if i not in lang:
            problems.append(f"survivor {i} is not an input id")
        elif lang[i] not in keep_langs:
            problems.append(f"survivor {i} has language {lang[i]}")
        elif text[i] != r["text"]:
            problems.append(f"survivor {i} text changed")
        if r["split"] not in ("train", "val", "test"):
            problems.append(f"survivor {i} split {r['split']!r}")
    texts = Counter(r["text"] for r in survivors)
    dup = [t for t, n in texts.items() if n > 1]
    if dup:
        problems.append(f"{len(dup)} texts survive more than once")
    alive = set(ids)
    for grp in inputs["near_groups"]:
        if len(alive & set(grp)) > 1:
            problems.append(f"near-duplicate group {grp} keeps {sorted(alive & set(grp))}")
    want: dict[int, list] = {}
    for r in survivors:
        m = want.setdefault(int(r["shard"]), [0, 0, 0, 0])
        m[0] += 1
        m[1] += len(r["text"].encode("utf-8"))
        m[2] ^= portable_hash64(r["text"])
        m[3] ^= portable_hash64(str(int(r["doc_id"])))
    got = {int(m["shard"]): [int(m["n_docs"]), int(m["n_bytes"]), int(m["content_xor"]), int(m["id_xor"])] for m in manifest}
    if got != want:
        bad = sorted(s for s in set(got) | set(want) if got.get(s) != want.get(s))
        problems.append(f"manifest differs from the shards on shard(s) {bad}")
    return problems


def _norm_cell(v):
    if v is None:
        return None
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, float):
        return None if math.isnan(v) else v
    if hasattr(v, "tolist"):
        v = v.tolist()
    if isinstance(v, (list, tuple)):
        return tuple(_norm_cell(x) for x in v)
    if hasattr(v, "isoformat"):
        return v.isoformat(sep=" ") if hasattr(v, "hour") else v.isoformat()
    return v


def _cells_equal(a, b) -> bool:
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, tuple) or isinstance(b, tuple):
        return isinstance(a, tuple) and isinstance(b, tuple) and len(a) == len(b) and all(map(_cells_equal, a, b))
    if isinstance(a, (int, float)) and isinstance(b, (int, float)) and not isinstance(a, bool) and not isinstance(b, bool):
        return math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=1e-9)
    return str(a) == str(b)


def _sort_key(row):
    return tuple("" if c is None else (f"{c:.6f}" if isinstance(c, float) else str(c)) for c in row)


def check_table(got_cols: list[str], got_rows: list[tuple], want_cols: list[str], want_rows: list[tuple]) -> list[str]:
    """Order-insensitive table equality: same column names, same row
    count, and equal cells once columns are sorted by name and rows by
    value (floats within 1e-9)."""
    if sorted(got_cols) != sorted(want_cols):
        return [f"columns {sorted(got_cols)} != {sorted(want_cols)}"]
    if len(got_rows) != len(want_rows):
        return [f"{len(got_rows)} rows, expected {len(want_rows)}"]
    order_g = [got_cols.index(c) for c in sorted(got_cols)]
    order_w = [want_cols.index(c) for c in sorted(want_cols)]
    g = sorted((tuple(_norm_cell(r[i]) for i in order_g) for r in got_rows), key=_sort_key)
    w = sorted((tuple(_norm_cell(r[i]) for i in order_w) for r in want_rows), key=_sort_key)
    bad = sum(1 for a, b in zip(g, w) if not all(map(_cells_equal, a, b)))
    return [f"{bad} rows differ"] if bad else []
