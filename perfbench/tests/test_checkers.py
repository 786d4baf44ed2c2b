"""Each output checker accepts a correct result and rejects a deliberately
corrupted one. No Spark: the "engine output" is built from the reference
itself and then damaged."""

from __future__ import annotations

import copy

import numpy as np
import pytest

import gen
import oracles


@pytest.fixture(scope="module")
def search():
    data = gen.search_corpus(3, 300, 16, 4)
    norms = oracles.fold_norms(data["vecs"])
    bm = oracles.BM25(data["ids"], data["texts"])
    dense = oracles.ranked(data["ids"], oracles.cosine_scores(data["vecs"], norms, data["q_vecs"][0]), 50)
    sparse = bm.topk(oracles.query_terms(data["q_texts"][0]), 50)
    fused = oracles.rrf({"dense": dense, "bm25": sparse}, {"dense": 0.6, "bm25": 0.4})
    top = oracles.ranked(list(fused), list(fused.values()), 10, rounded=False)
    return data, norms, fused, top


def test_round6_is_half_up_on_the_shortest_decimal():
    assert oracles.round6(0.0000005) == 0.000001
    assert oracles.round6(-0.0000005) == -0.000001
    assert oracles.round6(1.2345674999) == 1.234567


def test_bm25_matches_hand_computation():
    bm = oracles.BM25([7, 8], ["alpha beta beta", "gamma"])
    idf = np.log((2 - 1 + 0.5) / (1 + 0.5) + 1.0)
    avgdl = 2.0
    want = idf * (2 * 2.5) / (2 + 1.5 * (1 - 0.75 + 0.75 * 3 / avgdl))
    assert bm.scores(["beta"]) == {7: pytest.approx(want)}
    assert oracles.query_terms("The Beta, and beta!") == ["beta", "beta"]


def test_hybrid_accepts_the_reference(search):
    _, _, fused, top = search
    assert top[0][1] == 100.0
    assert oracles.check_hybrid(top, fused) == []


def test_hybrid_rejects_a_swapped_top10_id(search):
    _, _, fused, top = search
    outside = next(i for i in sorted(fused, key=fused.get) if i not in {d for d, _ in top})
    bad = list(top)
    bad[3] = (outside, bad[3][1])
    assert oracles.check_hybrid(bad, fused)


def test_hybrid_rejects_reordered_scores(search):
    _, _, fused, top = search
    bad = list(top)
    bad[0], bad[5] = bad[5], bad[0]
    assert oracles.check_hybrid(bad, fused)


def test_ranking_accepts_either_id_of_a_tie():
    ref = {1: 0.5, 2: 0.5, 3: 0.1}
    want = [(1, 0.5), (2, 0.5)]
    assert oracles.check_ranking([(2, 0.5), (1, 0.5)], want, ref, "t") == []
    assert oracles.check_ranking([(3, 0.5), (1, 0.5)], want, ref, "t")


def test_ivf_checks_pair_scores_and_rank_bound(search):
    data, norms, _, _ = search
    q = data["q_vecs"][1]
    scores = oracles.cosine_scores(data["vecs"], norms, q)
    exact = {0: oracles.ranked(data["ids"], scores, 10)}
    pair = lambda qid, cid: float(scores[cid])  # noqa: E731
    # a legitimate approximate answer: the exact list minus its best hit
    approx = {0: exact[0][1:]}
    assert oracles.check_ivf(approx, exact, pair, 10) == []
    assert oracles.recall_at_k(approx, exact) == pytest.approx(0.9)
    wrong_score = {0: [(exact[0][0][0], exact[0][0][1] - 0.01)] + exact[0][1:]}
    assert oracles.check_ivf(wrong_score, exact, pair, 10)
    worst = oracles.ranked(data["ids"], -scores, 1)[0][0]
    too_high = {0: [(worst, exact[0][0][1])]}
    assert oracles.check_ivf(too_high, exact, pair, 10)


@pytest.fixture(scope="module")
def prep():
    corpus = gen.raw_corpus(5, 200)
    cols = corpus["columns"]
    seen, survivors = set(), []
    group_of = {i: g for g, grp in enumerate(corpus["near_groups"]) for i in grp}
    kept_groups = set()
    for i, text, lang in sorted(zip(cols["doc_id"], cols["text"], cols["lang"])):
        g = group_of.get(int(i))
        if lang != "en" or text in seen or (g is not None and g in kept_groups):
            continue
        seen.add(text)
        if g is not None:
            kept_groups.add(g)
        survivors.append({"doc_id": int(i), "text": text, "split": ("train", "val", "test")[int(i) % 3], "shard": int(i) % 4})
    manifest = {}
    for r in survivors:
        m = manifest.setdefault(r["shard"], {"shard": r["shard"], "n_docs": 0, "n_bytes": 0, "content_xor": 0, "id_xor": 0})
        m["n_docs"] += 1
        m["n_bytes"] += len(r["text"].encode())
        m["content_xor"] ^= oracles.portable_hash64(r["text"])
        m["id_xor"] ^= oracles.portable_hash64(str(r["doc_id"]))
    return corpus, survivors, list(manifest.values())


def test_prep_accepts_a_consistent_output(prep):
    corpus, survivors, manifest = prep
    assert corpus["near_groups"] and all(len(g) >= 2 for g in corpus["near_groups"])
    assert oracles.check_prep(survivors, manifest, corpus) == []


def test_prep_rejects_a_survivor_in_two_splits(prep):
    corpus, survivors, manifest = prep
    twice = survivors + [dict(survivors[0], split="test" if survivors[0]["split"] != "test" else "val")]
    assert oracles.check_prep(twice, manifest, corpus)


def test_prep_rejects_a_manifest_total_off_by_one(prep):
    corpus, survivors, manifest = prep
    bad = copy.deepcopy(manifest)
    bad[0]["n_docs"] += 1
    assert oracles.check_prep(survivors, bad, corpus)
    bad = copy.deepcopy(manifest)
    bad[0]["n_bytes"] -= 1
    assert oracles.check_prep(survivors, bad, corpus)


def test_prep_rejects_two_survivors_of_a_near_duplicate_group(prep):
    corpus, survivors, manifest = prep
    alive = {r["doc_id"] for r in survivors}
    grp = next(g for g in corpus["near_groups"] if alive & set(g))
    extra = next(i for i in grp if i not in alive)
    cols = corpus["columns"]
    row = {"doc_id": extra, "text": cols["text"][extra], "split": "train", "shard": 0}
    assert any("near-duplicate" in p for p in oracles.check_prep(survivors + [row], manifest, corpus))


def test_prep_rejects_a_foreign_language_survivor(prep):
    corpus, survivors, manifest = prep
    cols = corpus["columns"]
    foreign = next(int(i) for i, lg in zip(cols["doc_id"], cols["lang"]) if lg != "en")
    row = {"doc_id": foreign, "text": cols["text"][foreign], "split": "train", "shard": 0}
    assert any("language" in p for p in oracles.check_prep(survivors + [row], manifest, corpus))


def test_table_check_is_order_insensitive_and_rejects_a_perturbed_row():
    cols = ["k", "v", "name"]
    rows = [(1, 0.5, "a"), (2, 1.25, "b"), (3, None, "c")]
    assert oracles.check_table(cols, rows, ["name", "v", "k"], [(r[2], r[1], r[0]) for r in reversed(rows)]) == []
    perturbed = [rows[0], (2, 1.2501, "b"), rows[2]]
    assert oracles.check_table(cols, perturbed, cols, rows)
    assert oracles.check_table(cols, rows[:2], cols, rows)
    assert oracles.check_table(["k", "v", "other"], rows, cols, rows)
