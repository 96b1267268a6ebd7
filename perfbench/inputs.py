"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed and sizes: the same seed
writes byte-identical parquet files (``test_inputs.py`` checks this).  The
program under test only ever sees these files.

The filler vocabulary, language mix and exact-duplicate rate are the ones
observed in the sf0.1 ``documents`` test table (the same facts
``scripts/make_scale_dir.py`` copies), written out here so the benchmark
reads nothing outside its own checkout.  Every filler word is lower case and
every gazetteer surface contains an upper-case letter, so filler text can
never produce a mention by itself.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from entity_extractor_linker_api_v2_spark import fixtures

VOCAB = ("a", "agg", "batch", "big", "column", "customer", "data", "dup",
         "fast", "filter", "group", "hash", "join", "key", "line", "merge",
         "order", "part", "query", "row", "scan", "slow", "small", "sort",
         "spark", "stream", "table", "the", "value", "vector", "window")
LANGS = ("de", "en", "es", "fr", "zh")
LANG_P = (702 / 5000, 2059 / 5000, 744 / 5000, 742 / 5000, 753 / 5000)
# sf0.1 holds 8 pages that copy an earlier page's text per 5,000 pages
DUP_RATE = 8 / 5000

SYNTH_TITLE = "Synth Page {:06d}"     # fixed width: no title is inside another
SYNTH_OTHER = "Synth Seite {:06d}"    # the German title where titles differ
HOT_KEY = ("Berlin", "Berlin", "LOCATION")
# Zipf's law in its classical form (frequency ~ 1 / rank).  No measurement of
# entity-mention popularity is in the repository; this exponent is unverified
# against real crawl traffic.
ZIPF_S = 1.0


def _fixture_kb_shape() -> tuple[int, int, float]:
    """The shape of the fixture KB (``fixtures.KB_PAGES``): the number of
    seed entities with a page per language sharing one Wikidata id, how many
    of them differ in title per language (as Deutschland/Germany), and the
    share of pages without an abstract."""
    by_qid: dict[str, list[dict]] = {}
    for p in fixtures.KB_PAGES:
        by_qid.setdefault(p["wikidata_id"], []).append(p)
    pairs = [g for g in by_qid.values()
             if sorted(p["lang"] for p in g) == ["de", "en"]]
    differs = sum(g[0]["title"] != g[1]["title"] for g in pairs)
    incomplete = sum(p["abstract"] is None for p in fixtures.KB_PAGES)
    return len(pairs), differs, incomplete / len(fixtures.KB_PAGES)


SEED_PAIRS, TITLE_DIFFERS, INCOMPLETE_SHARE = _fixture_kb_shape()


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([int(seed), stream])


def _documents_table(texts: list[str], langs) -> pa.Table:
    n = len(texts)
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, type=pa.string()),
        "lang": pa.array(list(langs), type=pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], type=pa.string()),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    })


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def _plant_duplicates(rng: np.random.Generator, texts: list[str]) -> int:
    """Replace a DUP_RATE share of pages by a copy of an earlier page."""
    draw = rng.random(len(texts))
    dups = 0
    for i in range(1, len(texts)):
        if draw[i] < DUP_RATE:
            texts[i] = texts[int(rng.integers(0, i))]
            dups += 1
    return dups


def _sample_ids(rng: np.random.Generator, n: int, k: int) -> np.ndarray:
    return np.sort(rng.choice(n, size=min(k, n), replace=False))


def crawl_heavy(out_dir: str, seed: int, pages: int, sample: int) -> dict:
    """Long pages: 1,150-1,400 filler words (about 7 kB) per page.

    Mentions come only from the fixture sentence and the planted "Berlin"
    sentence that ``tables.docs_table`` appends, as in the test corpus.
    Writes ``corpus/documents.parquet`` and ``sample/documents.parquet`` (a
    seeded subset for the output check)."""
    rng = _rng(seed, 1)
    n_words = rng.integers(1150, 1401, size=pages)
    words = np.array(VOCAB, dtype=object)[
        rng.integers(0, len(VOCAB), size=int(n_words.sum()))]
    ends = np.cumsum(n_words)
    texts = [" ".join(words[e - k:e]) for e, k in zip(ends, n_words)]
    dups = _plant_duplicates(rng, texts)
    langs = rng.choice(LANGS, size=pages, p=LANG_P)
    corpus = _documents_table(texts, langs)
    _write(corpus, f"{out_dir}/corpus/documents.parquet")
    _write(corpus.take(_sample_ids(rng, pages, sample)),
           f"{out_dir}/sample/documents.parquet")
    return {"pages": pages, "text_bytes": sum(len(t.encode()) for t in texts),
            "duplicate_pages": dups, "duplicate_rate": dups / pages}


def entity_dense(out_dir: str, seed: int, pages: int, entities: int,
                 mentions_per_page: int, sample: int) -> dict:
    """Short pages (about 0.5 kB) carrying ``mentions_per_page`` surfaces of
    a synthetic KB of ``entities`` entities, drawn Zipf(ZIPF_S) over a
    seeded popularity order.

    The KB copies the shape of the fixture KB's seed entities
    (``_fixture_kb_shape``): every entity has a ``de`` and an ``en`` page
    that share one Wikidata id and name each other in ``title_other``;
    TITLE_DIFFERS of every SEED_PAIRS entities have different titles per
    language (as Deutschland/Germany), the rest one title (as Zugspitze).  A page
    mentions the German title on ``de`` pages and the English title
    otherwise, as the fixture sentences do.  INCOMPLETE_SHARE of the KB
    pages have no abstract and fail the completeness gate.

    Writes the corpus and a check sample (documents-shaped), the gazetteer
    (every synthetic surface plus the "Berlin" hot key) and the synthetic KB
    pages and aliases that extend the fixture dimensions."""
    rng = _rng(seed, 2)
    langs = rng.choice(LANGS, size=pages, p=LANG_P)
    rank_p = 1.0 / np.arange(1, entities + 1) ** ZIPF_S
    popularity = rng.permutation(entities)
    drawn = popularity[rng.choice(entities, size=(pages, mentions_per_page),
                                  p=rank_p / rank_p.sum())]
    gaps = rng.integers(4, 9, size=(pages, mentions_per_page))
    filler = np.array(VOCAB, dtype=object)[
        rng.integers(0, len(VOCAB), size=int(gaps.sum()))]
    texts, pos = [], 0
    for ids, gs, lang in zip(drawn, gaps, langs):
        parts = []
        for eid, g in zip(ids, gs):
            parts.append(" ".join(filler[pos:pos + g]))
            parts.append(_title(eid, "de" if lang == "de" else "en"))
            pos += g
        texts.append(" ".join(parts))
    corpus = _documents_table(texts, langs)
    _write(corpus, f"{out_dir}/corpus/documents.parquet")
    _write(corpus.take(_sample_ids(rng, pages, sample)),
           f"{out_dir}/sample/documents.parquet")

    rows = [(i, lang) for i in range(entities) for lang in ("de", "en")]
    titles = [_title(i, lang) for i, lang in rows]
    other = [_title(i, "en" if lang == "de" else "de") for i, lang in rows]
    surfaces = sorted(set(titles))
    _write(pa.table({
        "surface": surfaces + [HOT_KEY[0]],
        "label": surfaces + [HOT_KEY[1]],
        "type": ["CONCEPT"] * len(surfaces) + [HOT_KEY[2]],
    }), f"{out_dir}/gazetteer.parquet")
    n = len(rows)
    incomplete = round(1 / INCOMPLETE_SHARE)
    _write(pa.table({
        "title": titles,
        "lang": [lang for _, lang in rows],
        "title_other": other,
        "abstract": [None if r % incomplete == incomplete - 1
                     else f"Synthetische Seite {i}."
                     for r, (i, _) in enumerate(rows)],
        "wikidata_id": [f"Q{200000 + i}" for i, _ in rows],
        "categories": [[f"SynthKat{i % 100}"] for i, _ in rows],
        "internal_links": [[_title((7 * i + 1) % entities, lang)]
                           for i, lang in rows],
        "infobox_type": pa.nulls(n, pa.string()),
        "geo_lat": pa.nulls(n, pa.float64()),
        "geo_lon": pa.nulls(n, pa.float64()),
        "thumbnail_url": pa.nulls(n, pa.string()),
        "instance_of": [["concept"]] * n,
        "subclass_of": pa.array([[]] * n, type=pa.list_(pa.string())),
        "part_of": [[f"SynthGruppe{i % 3}"] for i, _ in rows],
        "has_part": pa.array([[]] * n, type=pa.list_(pa.string())),
    }), f"{out_dir}/kb.parquet")
    # alias rows follow fixtures.alias_rows: identity, then the name
    # variations that differ from the title (lower, upper) in probe order
    aliases = [(v, t, lang, p) for t, (_, lang) in zip(titles, rows)
               for p, v in enumerate((t, t.lower(), t.upper()))]
    _write(pa.table({
        "alias": [a[0] for a in aliases], "title": [a[1] for a in aliases],
        "lang": [a[2] for a in aliases],
        "alias_prio": pa.array([a[3] for a in aliases], type=pa.int32()),
    }), f"{out_dir}/aliases.parquet")
    link_lang = np.where(langs == "de", 0, 1)[:, None]
    keys = np.unique(drawn * 2 + link_lang)
    return {"pages": pages, "text_bytes": sum(len(t.encode()) for t in texts),
            "kb_entities": entities, "kb_pages": n,
            "distinct_entities_drawn": int(np.unique(drawn).size),
            # distinct (entity, link language) keys per planted mention: the
            # share corpus-distinct linking resolves
            "distinct_key_share": keys.size / drawn.size,
            "top_entity_share": float(np.isin(
                drawn, popularity[0]).any(axis=1).mean()),
            "duplicate_pages": 0, "duplicate_rate": 0.0}


def _title(entity: int, lang: str) -> str:
    if lang == "de" and entity % SEED_PAIRS < TITLE_DIFFERS:
        return SYNTH_OTHER.format(entity)
    return SYNTH_TITLE.format(entity)
