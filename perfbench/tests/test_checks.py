"""Every checker accepts the right answer and rejects a corrupted one."""

import numpy as np
import pandas as pd
import pytest

from perfbench import checks


def test_check_kv():
    exp = {"a": 3, "b": 0}
    assert checks.check_kv("t", dict(exp), exp) == []
    assert checks.check_kv("t", {"a": 4, "b": 0}, exp)
    assert checks.check_kv("t", {"a": 3}, exp)
    assert checks.check_kv("t", {"a": 3, "b": 0, "c": 1}, exp)


def test_check_oracle():
    df = pd.DataFrame({"doc_id": [1, 2], "is_dup": [False, True]})
    assert checks.check_oracle("q", df.iloc[::-1].reset_index(drop=True), df) == []
    bad = df.assign(is_dup=[False, False])
    assert checks.check_oracle("q", bad, df)


TEXTS = [
    "a b c d e f g h i j",
    "a b c d e f g h i x",  # near copy of 0
    "p q r s t u v w x y",
    "a b c d e f g h i j",  # exact copy of 0
]
PLANTED = [(0, 1), (0, 3)]


def pairs(rows):
    return pd.DataFrame(rows, columns=["doc_a", "doc_b", "jaccard"])


def test_check_minhash():
    j01 = float(checks.q6(7 / 9))
    good = pairs([(0, 1, j01), (0, 3, 1.0), (1, 3, j01)])
    assert checks.check_minhash(good, TEXTS, PLANTED) == []
    assert checks.check_minhash(pairs([(0, 1, 0.9), (0, 3, 1.0)]), TEXTS, PLANTED)
    assert checks.check_minhash(pairs([(0, 3, 1.0)]), TEXTS, PLANTED)  # recall 0.5
    assert checks.minhash_recall(good, PLANTED) == 1.0


@pytest.fixture
def vectors():
    rng = np.random.default_rng(3)
    return checks.unit_rows(rng.standard_normal((200, 8)))


def answer(unit, q, k=checks.TOP_K):
    ids, cos = checks.exact_topk(unit, q, k)
    return [(int(i), float(cos[i]), r + 1) for r, i in enumerate(ids)]


def test_check_topk(vectors):
    q = vectors[5] + 0.1
    rows = answer(vectors, q)
    assert checks.check_topk("knn", rows, vectors, q) == ([], 1.0)
    wrong_cos = [(i, c + 1e-3, r) for i, c, r in rows]
    assert checks.check_topk("knn", wrong_cos, vectors, q)[0]
    bad_rank = rows[:-1] + [(rows[-1][0], rows[-1][1], 99)]
    assert checks.check_topk("ivf", bad_rank, vectors, q)[0]
    # an approximate answer with true cosines passes but loses recall;
    # exact kNN may not return it
    far = answer(vectors, q, 40)[-checks.TOP_K :]
    approx = [(i, c, r + 1) for r, (i, c, _) in enumerate(far)]
    errs, recall = checks.check_topk("ivf", approx, vectors, q)
    assert errs == [] and recall < 1.0
    assert checks.check_topk("knn", approx, vectors, q)[0]


BM25_TEXTS = ["hash join build probe", "hash hash scan", "sort merge join", "scan filter", ""]


def test_check_bm25():
    ref = checks.bm25_scores(BM25_TEXTS, "hash join")
    top = sorted(ref.items(), key=lambda kv: (-kv[1], kv[0]))
    rows = [(d, s, r + 1) for r, (d, s) in enumerate(top)]
    assert checks.check_bm25(rows, BM25_TEXTS, "hash join") == []
    assert checks.check_bm25([(d, s + 0.01, r) for d, s, r in rows], BM25_TEXTS, "hash join")
    assert checks.check_bm25(rows[:-1], BM25_TEXTS, "hash join")
    swapped = [(rows[1][0], rows[0][1], 1), (rows[0][0], rows[1][1], 2)] + rows[2:]
    assert checks.check_bm25(swapped, BM25_TEXTS, "hash join")


def test_check_audit():
    audit = pd.DataFrame(
        [("ledger", "n_files", 4), ("ledger", "n_duplicate_entries", 0), ("ivf", "n_orphan_cell_rows", 0)],
        columns=["leg", "counter", "value"],
    )
    assert checks.check_audit(audit, {("ledger", "n_files"): 4}) == []
    assert checks.check_audit(audit, {("ledger", "n_files"): 6})
    broken = audit.copy()
    broken.loc[2, "value"] = 3
    assert checks.check_audit(broken, {})
