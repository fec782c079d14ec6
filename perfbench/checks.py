"""Output checks. Each takes the engine's output (Python values or a
pandas frame) and the generator's ground truth, and returns a list of
failure messages: empty means correct. They run outside the timed
region; every failing operation counts once in ``failed``.
"""

from __future__ import annotations

import math
from collections import Counter

import numpy as np

SHINGLE_N = 3
JACCARD_THRESHOLD = 0.5
MINHASH_MIN_RECALL = 0.9
IVF_MIN_RECALL = 0.8
TOP_K = 10
BM25_K1, BM25_B = 1.2, 0.75
TOL = 2e-6  # two quanta of the engine's scale-6 rounding

#: curation_state_audit counters that are sizes, not violations
AUDIT_SIZES = {
    "n_rows",
    "n_word_rows",
    "n_vectors",
    "n_band_rows",
    "n_signatures",
    "n_cell_rows",
    "n_bucket_rows",
    "n_codebook_rows",
    "n_code_rows",
    "n_centroids",
    "n_files",
}


def q6(x):
    """Round half away from zero to 1e-6, like the engine's quantize."""
    x = np.asarray(x, dtype=np.float64)
    return np.where(x >= 0.0, np.floor(x * 1e6 + 0.5), np.ceil(x * 1e6 - 0.5)) / 1e6


def check_kv(name: str, got: dict, expected: dict) -> list[str]:
    """A (key -> val) result must equal the exact answer key for key."""
    if got == expected:
        return []
    missing = sorted(set(expected) - set(got))[:3]
    extra = sorted(set(got) - set(expected))[:3]
    wrong = [k for k in expected if k in got and got[k] != expected[k]][:3]
    return [
        f"{name}: missing {missing} extra {extra} "
        f"wrong {[(k, got[k], expected[k]) for k in wrong]}"
    ]


def check_oracle(name: str, engine_df, oracle_df) -> list[str]:
    """Bit-exact, order-insensitive match against the registry's
    DuckDB oracle (the comparison the repository's oracle tests use)."""
    from tests.oracle_harness import assert_frames_match

    try:
        assert_frames_match(engine_df, oracle_df, name)
    except AssertionError as e:
        return [str(e)[:300]]
    return []


def shingles(text: str) -> set[str]:
    toks = text.lower().split()
    if len(toks) < SHINGLE_N:
        return {" ".join(toks)} if toks else set()
    return {" ".join(toks[i : i + SHINGLE_N]) for i in range(len(toks) - SHINGLE_N + 1)}


def minhash_recall(pairs_df, planted: list[tuple[int, int]]) -> float:
    found = {frozenset(p) for p in zip(pairs_df["doc_a"], pairs_df["doc_b"])}
    return sum(frozenset(p) in found for p in planted) / max(1, len(planted))


def check_minhash(pairs_df, texts: list[str], planted: list[tuple[int, int]]) -> list[str]:
    """Every reported pair's Jaccard is the exact shingle Jaccard and
    clears the threshold; planted near/exact pairs are found with at
    least MINHASH_MIN_RECALL recall (LSH may miss a few)."""
    out = []
    for a, b, j in zip(pairs_df["doc_a"], pairs_df["doc_b"], pairs_df["jaccard"]):
        sa, sb = shingles(texts[int(a)]), shingles(texts[int(b)])
        want = float(q6(len(sa & sb) / len(sa | sb)))
        if abs(want - j) > TOL or j < JACCARD_THRESHOLD:
            out.append(f"dedup_minhash_lsh: pair ({a},{b}) jaccard {j} != {want}")
            break
    r = minhash_recall(pairs_df, planted)
    if r < MINHASH_MIN_RECALL:
        out.append(f"dedup_minhash_lsh: planted-pair recall {r:.3f} < {MINHASH_MIN_RECALL}")
    return out


def unit_rows(vectors: np.ndarray) -> np.ndarray:
    v = vectors.astype(np.float64)
    n = np.linalg.norm(v, axis=1, keepdims=True)
    return v / np.where(n == 0, 1.0, n)


def exact_topk(unit: np.ndarray, q: np.ndarray, k: int):
    """(ids, cosines) of the k nearest rows by cosine, ties by id."""
    qn = q / np.linalg.norm(q)
    cos = q6(unit @ qn)
    order = np.lexsort((np.arange(len(cos)), -cos))[:k]
    return order, cos


def check_topk(kind: str, rows, unit: np.ndarray, q: np.ndarray) -> tuple[list[str], float]:
    """kNN/IVF answer ``rows`` [(vec_id, cosine, rank)]: TOP_K rows ranked
    1..TOP_K, each cosine the true cosine of its vector, sorted descending.
    Exact kNN must return the exact top-k cosines. Returns failures and
    the recall of the exact top-k ids."""
    ids, cos = exact_topk(unit, q, TOP_K)
    rows = sorted(rows, key=lambda r: r[2])
    got_ids = [int(r[0]) for r in rows]
    got_cos = np.array([r[1] for r in rows], dtype=np.float64)
    out = []
    if [r[2] for r in rows] != list(range(1, TOP_K + 1)):
        out.append(f"{kind}: ranks {[r[2] for r in rows]}")
    elif np.any(np.abs(got_cos - cos[got_ids]) > TOL) or np.any(np.diff(got_cos) > 0):
        out.append(f"{kind}: reported cosines are not the vectors' cosines in order")
    elif kind == "knn" and np.any(np.abs(got_cos - cos[ids]) > TOL):
        out.append(f"knn: top-{TOP_K} cosines {got_cos[:3]} != exact {cos[ids][:3]}")
    recall = len(set(got_ids) & set(ids.tolist())) / TOP_K
    return out, recall


def bm25_scores(texts: list[str], query: str) -> dict[int, float]:
    """Reference Okapi BM25 with the engine's conventions: lowercase
    whitespace tokens, N and avgdl over docs with at least one token,
    idf = ln(1 + (N - df + .5)/(df + .5)), every factor rounded to 1e-6."""
    toks = [t.lower().split() for t in texts]
    lens = [len(t) for t in toks if t]
    n_docs = len(lens)
    avgdl = (sum(lens) * 10**6 / 10**6) / n_docs
    terms = sorted(set(query.lower().split()))
    tf = [Counter(t) for t in toks]
    scores: dict[int, float] = {}
    for term in terms:
        df = sum(1 for c in tf if term in c)
        if not df:
            continue
        idf = float(q6(math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))))
        for d, c in enumerate(tf):
            f = c.get(term, 0)
            if f:
                norm = f + BM25_K1 * (1.0 - BM25_B + BM25_B * len(toks[d]) / avgdl)
                scores[d] = scores.get(d, 0) + int(round(float(q6(idf * (f * (BM25_K1 + 1.0)) / norm)) * 1e6))
    return {d: s / 1e6 for d, s in scores.items()}


def check_bm25(rows, texts: list[str], query: str) -> list[str]:
    """``rows`` [(doc_id, score, rank)] must be the reference's top-k:
    same scores in rank order, each doc's score its reference score."""
    ref = bm25_scores(texts, query)
    want = sorted(ref.values(), reverse=True)[:TOP_K]
    rows = sorted(rows, key=lambda r: r[2])
    got = [r[1] for r in rows]
    if len(got) != len(want) or any(abs(a - b) > TOL for a, b in zip(got, want)):
        return [f"bm25 '{query}': scores {got[:3]} != reference {want[:3]}"]
    if any(abs(ref.get(int(d), -1.0) - s) > TOL for d, s, _ in rows):
        return [f"bm25 '{query}': a returned doc's score differs from its reference score"]
    return []


def check_audit(audit_df, expected_sizes: dict[tuple[str, str], int]) -> list[str]:
    """Zero violations from curation_state_audit, and the size
    counters named in ``expected_sizes`` equal to what was ingested."""
    out = []
    seen = {}
    for leg, counter, value in zip(audit_df["leg"], audit_df["counter"], audit_df["value"]):
        seen[(leg, counter)] = int(value)
        if counter not in AUDIT_SIZES and value != 0:
            out.append(f"audit: {leg}.{counter} = {value}")
    for key, want in expected_sizes.items():
        if seen.get(key) != want:
            out.append(f"audit: {key[0]}.{key[1]} = {seen.get(key)}, expected {want}")
    return out
