import hashlib
import os

import pytest

from perfbench import gen


def digest(root: str) -> dict[str, str]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


@pytest.mark.parametrize("workload", sorted(gen.GENERATORS))
def test_same_seed_writes_identical_bytes(tmp_path, workload):
    make = gen.GENERATORS[workload]
    make(7, str(tmp_path / "a"))
    make(7, str(tmp_path / "b"))
    make(8, str(tmp_path / "c"))
    a, b, c = (digest(str(tmp_path / x)) for x in "abc")
    assert a and a == b
    assert a.keys() == c.keys() and a != c


def test_refjob_file_sizes_spread_widely_at_a_fixed_total(tmp_path):
    s7 = gen.refjob_corpus(7, str(tmp_path / "a"))["file_bytes"]
    s8 = gen.refjob_corpus(8, str(tmp_path / "b"))["file_bytes"]
    assert max(s7) / min(s7) > 300
    assert sorted(s7) == sorted(s8) and s7 != s8


def test_planted_duplicates_are_what_the_generator_reports(tmp_path):
    r = gen.curation_batch(7, str(tmp_path))
    texts = r["texts"]
    assert len(r["exact_pairs"]) == round(gen.EXACT_DUP_SHARE * gen.CUR_DOCS)
    assert len(r["near_pairs"]) == round(gen.NEAR_DUP_SHARE * gen.CUR_DOCS)
    assert all(texts[a] == texts[b] and a < b for a, b in r["exact_pairs"])
    assert all(texts[a] != texts[b] and a < b for a, b in r["near_pairs"])
