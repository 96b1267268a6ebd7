"""The benchmark's own input tests (no Spark needed):

    python3 -m pytest perfbench/test_inputs.py -q
"""

from __future__ import annotations

import os

import pyarrow.parquet as pq
import pytest

import inputs


def _files(root: str) -> dict[str, bytes]:
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            p = os.path.join(d, n)
            with open(p, "rb") as f:
                out[os.path.relpath(p, root)] = f.read()
    return out


GENERATORS = {
    "crawl_heavy": lambda d, s: inputs.crawl_heavy(d, s, pages=300, sample=20),
    "entity_dense": lambda d, s: inputs.entity_dense(
        d, s, pages=300, entities=2000, mentions_per_page=7, sample=20),
}


@pytest.mark.parametrize("name", sorted(GENERATORS))
def test_same_seed_gives_byte_identical_inputs(tmp_path, name):
    gen = GENERATORS[name]
    a, b, c = (str(tmp_path / x) for x in "abc")
    assert gen(a, 7) == gen(b, 7)
    assert _files(a) == _files(b) and _files(a)
    gen(c, 8)
    assert _files(c)["corpus/documents.parquet"] != _files(a)["corpus/documents.parquet"]


def test_crawl_pages_are_distinct_apart_from_planted_copies(tmp_path):
    props = inputs.crawl_heavy(str(tmp_path), 3, pages=5000, sample=10)
    texts = pq.read_table(f"{tmp_path}/corpus/documents.parquet").column("text").to_pylist()
    assert len(set(texts)) == len(texts) - props["duplicate_pages"]
    assert 0 < props["duplicate_pages"] < 30          # about 8 per 5,000
    assert 6000 < props["text_bytes"] / len(texts) < 8000


def test_entity_dense_surfaces_never_contain_each_other(tmp_path):
    inputs.entity_dense(str(tmp_path), 5, pages=50, entities=1200,
                        mentions_per_page=7, sample=5)
    surfaces = pq.read_table(f"{tmp_path}/gazetteer.parquet").column("surface").to_pylist()
    assert not any(s in t for s in surfaces for t in surfaces if s != t)
    text = " ".join(pq.read_table(f"{tmp_path}/corpus/documents.parquet")
                    .column("text").to_pylist())
    # filler is lower case, so a surface can only match where it was planted
    assert text.count("Synth Page ") + text.count("Synth Seite ") == 50 * 7
    assert all(w.islower() for w in inputs.VOCAB)


def test_entity_dense_kb_has_the_fixture_kb_shape(tmp_path):
    inputs.entity_dense(str(tmp_path), 5, pages=20, entities=700,
                        mentions_per_page=7, sample=5)
    kb = pq.read_table(f"{tmp_path}/kb.parquet").to_pylist()
    by_qid: dict[str, list[dict]] = {}
    for p in kb:
        by_qid.setdefault(p["wikidata_id"], []).append(p)
    assert len(by_qid) == 700
    for de, en in (sorted(g, key=lambda p: p["lang"]) for g in by_qid.values()):
        assert (de["lang"], en["lang"]) == ("de", "en")
        assert (de["title_other"], en["title_other"]) == (en["title"], de["title"])
    differs = sum(g[0]["title"] != g[1]["title"] for g in by_qid.values())
    assert differs == 700 * inputs.TITLE_DIFFERS // inputs.SEED_PAIRS
    assert sum(p["abstract"] is None for p in kb) == len(kb) // round(
        1 / inputs.INCOMPLETE_SHARE)
