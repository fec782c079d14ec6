"""Seeded input generators for the engine benchmark.

Every input a workload feeds the engine is made here from one integer
seed with ``numpy.random.default_rng(seed)``: the same seed writes
byte-identical files (tests/test_gen.py pins that). Each generator also
returns the ground truth the output checks compare against, so no check
ever asks the engine what the right answer is.

Sizes are module constants, recorded with the input properties in
``perfbench/WORKLOADS.md``. They are fixed across seeds: a seed changes
the content, never the amount of work, so run-to-run timing spread
comes from the system and not from the inputs.
"""

from __future__ import annotations

import os
from collections import Counter

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --- vocabulary ------------------------------------------------------------
VOCAB_TYPES = 100_000
ZIPF_S = 1.1
LANGS = ("en", "de", "fr", "es", "zh")
N_SOURCES = 20

# --- batch_corpus: the paper's job -----------------------------------------
REF_FILES = 8
REF_MIN_BYTES = 256
REF_MAX_BYTES = 256 * 1024  # 3 decades of file size
REF_UPPER_SHARE = 0.1  # words capitalized, so task 2 case-folds
REF_NUMBER_SHARE = 0.05  # numeric tokens, so task 1 sees digits
REF_NEWLINE_SHARE = 0.08

# --- batch_corpus: the curation queries ------------------------------------
CUR_DOCS = 600
DOC_MIN_WORDS, DOC_MAX_WORDS = 30, 90
EXACT_DUP_SHARE = 0.10
NEAR_DUP_SHARE = 0.10
NEAR_DUP_EDIT_SHARE = 0.05  # tokens replaced in a near-duplicate copy

# --- nightly ingest (traced topk_serve runs) --------------------------------
NIGHT_SEED_DOCS, NIGHT_SEED_VECS = 300, 200
NIGHT_DOCS, NIGHT_VECS = 100, 50
NIGHT_DUP_SHARE = 0.2  # of the marginal night, copies of seed-night rows

# --- topk_serve -------------------------------------------------------------
DIM = 64
SERVE_VECS = 5_000
SERVE_CLUSTERS = 16
SERVE_NOISE = 0.35  # per-component sigma * sqrt(DIM) around a unit center
SERVE_DOCS = 1_000
SERVE_REQUESTS = 60  # seeded request schedule; a run uses a prefix
BM25_TERMS = 2
BM25_TERM_RANKS = (50, 500)  # query terms drawn from these Zipf ranks


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


def vocabulary(rng: np.random.Generator) -> tuple[list[str], np.ndarray]:
    """VOCAB_TYPES distinct lowercase words and the cumulative Zipf(ZIPF_S)
    distribution over them, rank 0 most frequent."""
    words: list[str] = []
    seen: set[str] = set()
    while len(words) < VOCAB_TYPES:
        n = VOCAB_TYPES - len(words)
        lens = rng.integers(2, 11, size=n)
        raw = rng.integers(ord("a"), ord("z") + 1, size=(n, 10), dtype=np.uint8).tobytes()
        for i, k in enumerate(lens):
            w = raw[10 * i : 10 * i + k].decode("ascii")
            if w not in seen:
                seen.add(w)
                words.append(w)
    cdf = np.cumsum(1.0 / np.arange(1, VOCAB_TYPES + 1) ** ZIPF_S)
    return words, cdf / cdf[-1]


def _words(rng, vocab, cdf, n) -> list[str]:
    idx = np.minimum(np.searchsorted(cdf, rng.random(n), side="right"), len(vocab) - 1)
    return [vocab[i] for i in idx]


def _doc_text(rng, vocab, cdf) -> str:
    n = int(rng.integers(DOC_MIN_WORDS, DOC_MAX_WORDS + 1))
    return " ".join(_words(rng, vocab, cdf, n))


def _near_copy(rng, text: str, vocab, cdf) -> str:
    toks = text.split(" ")
    k = max(1, round(NEAR_DUP_EDIT_SHARE * len(toks)))
    for i in rng.choice(len(toks), size=k, replace=False):
        toks[i] = _words(rng, vocab, cdf, 1)[0]
    return " ".join(toks)


def _documents_table(texts: list[str], first_id: int = 0) -> pa.Table:
    n = len(texts)
    ids = np.arange(first_id, first_id + n, dtype=np.int64)
    return pa.table(
        {
            "doc_id": pa.array(ids, pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array([LANGS[i % len(LANGS)] for i in ids], pa.string()),
            "source": pa.array([f"src{i % N_SOURCES}" for i in ids], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _vec_table(vecs: np.ndarray, first_id: int = 0) -> pa.Table:
    ids = np.arange(first_id, first_id + len(vecs), dtype=np.int64)
    flat = pa.array(vecs.astype(np.float32).ravel(), pa.float32())
    emb = pa.FixedSizeListArray.from_arrays(flat, vecs.shape[1]).cast(
        pa.list_(pa.float32())
    )
    return pa.table({"vec_id": pa.array(ids, pa.int64()), "embedding": emb})


def _clustered(rng, centers: np.ndarray, n: int) -> np.ndarray:
    which = rng.integers(0, len(centers), size=n)
    noise = rng.standard_normal((n, centers.shape[1])) * (
        SERVE_NOISE / np.sqrt(centers.shape[1])
    )
    return centers[which] + noise


def _unit_centers(rng, k: int) -> np.ndarray:
    c = rng.standard_normal((k, DIM))
    return c / np.linalg.norm(c, axis=1, keepdims=True)


# ---------------------------------------------------------------------------
# batch_corpus: the paper's job
# ---------------------------------------------------------------------------

def _ref_texts(rng, vocab, cdf, sizes) -> list[str]:
    texts: list[str] = []
    for size in sizes:
        n = int(size) // 6 + 8
        toks = _words(rng, vocab, cdf, n)
        roll = rng.random(n)
        nums = rng.integers(0, 100_000, size=n)
        seps = np.where(rng.random(n) < REF_NEWLINE_SHARE, "\n", " ")
        parts = []
        for t, r, x, s in zip(toks, roll, nums, seps):
            if r < REF_NUMBER_SHARE:
                t = str(x)
            elif r < REF_NUMBER_SHARE + REF_UPPER_SHARE:
                t = t.capitalize()
            parts.append(t)
            parts.append(s)
        texts.append("".join(parts)[: int(size)])
    return texts


def _ref_inputs(texts: list[str], out: str) -> dict:
    corpus = os.path.join(out, "corpus")
    os.makedirs(corpus, exist_ok=True)
    for i, t in enumerate(texts):
        with open(os.path.join(corpus, f"{i}.txt"), "w", encoding="ascii") as f:
            f.write(t)
    _write(_documents_table(texts), os.path.join(out, "tables", "documents.parquet"))
    return {"corpus_dir": corpus, "sf_dir": os.path.join(out, "tables"), "num_files": len(texts)}


def refjob_corpus(seed: int, out: str) -> dict:
    """``out/corpus/{i}.txt`` for i < REF_FILES plus the same texts as
    ``out/tables/documents.parquet``. File sizes are the midpoints of
    REF_FILES equal log-width strata of [REF_MIN_BYTES, REF_MAX_BYTES],
    in a seeded order: every seed has the same bytes in total and the
    same size spread. Returns the exact expected results."""
    rng = np.random.default_rng(seed)
    vocab, cdf = vocabulary(rng)
    lo, hi = np.log(REF_MIN_BYTES), np.log(REF_MAX_BYTES)
    u = (np.arange(REF_FILES) + 0.5) / REF_FILES
    sizes = rng.permutation(np.exp(lo + u * (hi - lo)).astype(int))
    texts = _ref_texts(rng, vocab, cdf, sizes)
    return {
        **_ref_inputs(texts, out),
        "expected": refjob_expected(texts),
        "file_bytes": [int(s) for s in sizes],
    }


def refjob_expected(texts: list[str]) -> dict[str, dict[str, int]]:
    """Exact (key -> val) answers for task 1/2/3, wordcount and the
    word-length map_reduce emitter, computed in plain Python."""
    data = "".join(texts).encode("ascii")
    b = np.frombuffer(data, dtype=np.uint8)
    lower = b | 0x20
    letters = int(((lower >= ord("a")) & (lower <= ord("z"))).sum())
    numbers = int(((b >= ord("0")) & (b <= ord("9"))).sum())
    folded = np.bincount(lower[(lower >= ord("a")) & (lower <= ord("z"))], minlength=128)
    synth = sum(len(t) % 49 for t in texts)
    words: Counter = Counter()
    for t in texts:
        words.update(t.lower().split())
    return {
        "task1": {"letters": letters, "numbers": numbers, "others": len(b) - letters - numbers},
        "task2": {chr(c): int(folded[c]) for c in range(ord("a"), ord("z") + 1)},
        "task3": {k: synth for k in ("we", "love", "cs", "3210")},
        "wordcount": dict(words),
        "wordlen": {str(k): v for k, v in Counter(len(w) for w in words.elements()).items()},
    }


# ---------------------------------------------------------------------------
# batch_corpus: the curation queries; the nightly batches
# ---------------------------------------------------------------------------

def _planted_corpus(rng, vocab, cdf, n: int, first_id: int):
    """n docs: originals plus EXACT_DUP_SHARE exact and NEAR_DUP_SHARE
    near-duplicate copies of earlier originals. Returns (texts, exact
    pairs, near pairs) with pairs as (original id, copy id)."""
    kinds = np.array(["orig"] * n, dtype=object)
    slots = rng.permutation(np.arange(n // 4, n))  # copies follow originals
    n_exact, n_near = round(EXACT_DUP_SHARE * n), round(NEAR_DUP_SHARE * n)
    kinds[slots[:n_exact]] = "exact"
    kinds[slots[n_exact : n_exact + n_near]] = "near"
    texts: list[str] = []
    exact, near = [], []
    originals: list[int] = []
    for i in range(n):
        if kinds[i] == "orig":
            texts.append(_doc_text(rng, vocab, cdf))
            originals.append(i)
            continue
        src = originals[int(rng.integers(0, len(originals)))]
        if kinds[i] == "exact":
            texts.append(texts[src])
            exact.append((first_id + src, first_id + i))
        else:
            texts.append(_near_copy(rng, texts[src], vocab, cdf))
            near.append((first_id + src, first_id + i))
    return texts, exact, near


def curation_batch(seed: int, out: str) -> dict:
    """``out/tables/documents.parquet`` with planted duplicates."""
    rng = np.random.default_rng(seed)
    vocab, cdf = vocabulary(rng)
    texts, exact, near = _planted_corpus(rng, vocab, cdf, CUR_DOCS, 0)
    sf_dir = os.path.join(out, "tables")
    _write(_documents_table(texts), os.path.join(sf_dir, "documents.parquet"))
    return {"sf_dir": sf_dir, "texts": texts, "exact_pairs": exact, "near_pairs": near}


def nights(rng, vocab, cdf, centers: np.ndarray, out: str) -> dict:
    """Two nightly batches: ``out/seed/{docs,vecs}`` and
    ``out/night/{docs,vecs}``. The marginal night's docs include
    NIGHT_DUP_SHARE exact copies of seed-night docs and its vecs the
    same share of near copies of seed-night vectors."""
    seen_docs: list[str] = []
    seen_vecs: list[np.ndarray] = []
    dups: dict[str, list[int]] = {}

    def night(name: str, n_docs: int, n_vecs: int, first_id: int, dup: float) -> None:
        n_dd, n_dv = round(dup * n_docs), round(dup * n_vecs)
        docs = [_doc_text(rng, vocab, cdf) for _ in range(n_docs - n_dd)]
        docs += [seen_docs[int(i)] for i in rng.integers(0, max(1, len(seen_docs)), size=n_dd)]
        vecs = _clustered(rng, centers, n_vecs - n_dv)
        if n_dv:
            base = np.stack([seen_vecs[int(i)] for i in rng.integers(0, len(seen_vecs), size=n_dv)])
            vecs = np.concatenate([vecs, base + 1e-3 * rng.standard_normal(base.shape)])
        _write(
            _documents_table(docs, first_id).select(["doc_id", "text"]),
            os.path.join(out, name, "docs", f"{name}.parquet"),
        )
        _write(_vec_table(vecs, first_id), os.path.join(out, name, "vecs", f"{name}.parquet"))
        seen_docs.extend(docs)
        seen_vecs.extend(vecs)
        dups[name] = list(range(first_id + n_docs - n_dd, first_id + n_docs))

    night("seed", NIGHT_SEED_DOCS, NIGHT_SEED_VECS, 1_000_000, 0.0)
    night("night", NIGHT_DOCS, NIGHT_VECS, 2_000_000, NIGHT_DUP_SHARE)
    return {"nights_dir": out, "night_dups": dups}


# ---------------------------------------------------------------------------
# topk_serve
# ---------------------------------------------------------------------------

REQUEST_TYPES = ("knn", "ivf", "bm25")


def topk_serve(seed: int, out: str) -> dict:
    """``out/tables/embeddings.parquet`` (SERVE_VECS clustered unit-ish
    vectors around SERVE_CLUSTERS random centers) and
    ``out/tables/documents.parquet`` (SERVE_DOCS Zipf docs), plus a
    seeded request schedule: rounds of one knn, one ivf and one bm25
    request in a seeded order. Vector queries are perturbed corpus
    points; bm25 queries are BM25_TERMS terms from mid-frequency ranks. Also
    the two nightly batches traced runs ingest (:func:`nights`)."""
    rng = np.random.default_rng(seed)
    vocab, cdf = vocabulary(rng)
    sf_dir = os.path.join(out, "tables")
    docs = [_doc_text(rng, vocab, cdf) for _ in range(SERVE_DOCS)]
    _write(_documents_table(docs), os.path.join(sf_dir, "documents.parquet"))
    centers = _unit_centers(rng, SERVE_CLUSTERS)
    vecs = _clustered(rng, centers, SERVE_VECS)
    _write(_vec_table(vecs), os.path.join(sf_dir, "embeddings.parquet"))

    requests = []
    for r in range(SERVE_REQUESTS // len(REQUEST_TYPES)):
        for kind in rng.permutation(REQUEST_TYPES):
            qid = -(len(requests) + 1)  # never a corpus vec_id
            if kind == "bm25":
                ranks = rng.integers(BM25_TERM_RANKS[0], BM25_TERM_RANKS[1], size=BM25_TERMS)
                q = " ".join(vocab[int(i)] for i in ranks)
            else:
                base = vecs[int(rng.integers(0, SERVE_VECS))]
                q = base + 0.05 * rng.standard_normal(DIM)
            requests.append({"kind": str(kind), "query_id": qid, "query": q})
    return {
        "sf_dir": sf_dir,
        "vectors": vecs.astype(np.float32),
        "texts": docs,
        "requests": requests,
        **nights(rng, vocab, cdf, centers, os.path.join(out, "nights")),
    }


def batch_corpus(seed: int, out: str) -> dict:
    """The inputs of both halves of the batch job: ``out/refjob``
    (:func:`refjob_corpus`) and ``out/curation`` (:func:`curation_batch`)."""
    return {
        "refjob": refjob_corpus(seed, os.path.join(out, "refjob")),
        "curation": curation_batch(seed, os.path.join(out, "curation")),
    }


GENERATORS = {
    "batch_corpus": batch_corpus,
    "topk_serve": topk_serve,
}
