"""Operator-level tests: fused-path equivalence, dedup, similarity,
checkpoint resume, canonicalization fixpoint."""

import pyspark.sql.functions as F
import pytest

from conftest import SF_SMALL


def test_fused_equals_composable(spark):
    """The map-only fused pipeline (python dedup + precomputed resolution)
    must produce exactly the relational pipeline's entities."""
    from entity_extractor_linker_api_v2_spark.plans.pipeline import run_pipeline
    cols = ["url", "label", "type", "pos", "mention_idx", "label_de", "label_en",
            "wikidata_id", "status", "wiki_status", "dbpedia_uri", "entity_id"]
    a = run_pipeline(spark, SF_SMALL)["entities"].select(cols)
    b = run_pipeline(spark, SF_SMALL, fused=True)["entities"].select(cols)
    la, lb = a.collect(), b.collect()
    assert len(la) == len(lb)
    assert {tuple(r) for r in la} == {tuple(r) for r in lb}


def test_exact_dedup_groups(spark):
    from entity_extractor_linker_api_v2_spark.operators import dedup
    df = spark.createDataFrame(
        [(1, "a b c"), (2, "a  b c"), (3, "unique text here"), (4, "A B C")],
        "doc_id long, text string")
    groups = dedup.exact_dedup_groups(df).collect()
    # normalization: lower + whitespace collapse → docs 1,2,4 are one group
    assert len(groups) == 1
    assert groups[0].n_dups == 3 and groups[0].keep_id == 1


def test_minhash_identical_docs_same_sig(spark):
    from entity_extractor_linker_api_v2_spark.operators import dedup
    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "the quick brown fox jumps over the lazy dog"),
         (3, "completely different words entirely distinct tokens here")],
        "doc_id long, text string")
    sig = dedup.minhash_signatures(df).collect()
    s1 = sorted((r.sig_idx, r.minhash) for r in sig if r.doc_id == 1)
    s2 = sorted((r.sig_idx, r.minhash) for r in sig if r.doc_id == 2)
    s3 = sorted((r.sig_idx, r.minhash) for r in sig if r.doc_id == 3)
    assert s1 == s2 != s3
    pairs = {(r.a, r.b) for r in dedup.lsh_candidate_pairs(df).collect()}
    assert (1, 2) in pairs and (1, 3) not in pairs
    jac = {(r.a, r.b): r.jaccard for r in dedup.jaccard_pairs(df).collect()}
    assert jac[(1, 2)] == 1.0
    # a numpy scalar threshold formats as a SQL double literal too
    import numpy as np
    jac = {(r.a, r.b): r.jaccard for r in
           dedup.jaccard_pairs(df, threshold=np.float64(0.8)).collect()}
    assert jac[(1, 2)] == 1.0


def test_lsh_short_doc_excluded(spark):
    from entity_extractor_linker_api_v2_spark.operators import dedup
    df = spark.createDataFrame([(1, "two words")], "doc_id long, text string")
    assert dedup.minhash_signatures(df).count() == 0


def test_brute_force_topk_matches_numpy(spark):
    import duckdb
    import numpy as np
    from entity_extractor_linker_api_v2_spark.operators import similarity
    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    got = similarity.brute_force_topk(emb, k=5).collect()
    rows = duckdb.connect().execute(
        f"SELECT vec_id, embedding FROM '{SF_SMALL}/embeddings.parquet'").fetchall()
    q = np.array(similarity.query_vector())
    scored = sorted(
        ((float(np.dot(v, q) / (np.linalg.norm(v) * np.linalg.norm(q))), vid)
         for vid, v in ((r[0], np.array(r[1], dtype=np.float64)) for r in rows)),
        key=lambda t: (-t[0], t[1]))
    assert [r.vec_id for r in got] == [vid for _, vid in scored[:5]]
    for r, (s, _) in zip(got, scored[:5]):
        assert float(r.cosine) == pytest.approx(round(s, 3), abs=2e-3)


def test_checkpoint_resume(spark, tmp_path):
    from entity_extractor_linker_api_v2_spark.sources.checkpoint import StageCheckpoint
    ck = StageCheckpoint(spark, str(tmp_path))
    df = spark.range(100).withColumn("x", F.col("id") * 2)
    out = ck.write("stage1", df, {"v": 1})
    assert out.count() == 100
    m = ck.manifest("stage1")
    assert m["rows"] == 100 and m["status"] == "complete"
    assert sum(m["partition_rows"].values()) == 100
    # same config -> resume (reads snapshot even if input would differ)
    out2 = ck.write("stage1", spark.range(5), {"v": 1})
    assert out2.count() == 100
    # changed config -> recompute
    out3 = ck.write("stage1", spark.range(5), {"v": 2})
    assert out3.count() == 5


def test_cc_fixpoint_chain(spark):
    from entity_extractor_linker_api_v2_spark.operators.canonicalize import (
        connected_components_star)
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("x", "y")], "a string, b string")
    comps = {r.node: r.comp
             for r in connected_components_star(edges).collect()}
    assert comps == {"a": "a", "b": "a", "c": "a", "d": "a", "x": "x", "y": "x"}


def test_kb_build_reproduces_fixture_kb(spark):
    """kb_build(raw payload rows) must reproduce the hand-authored KB
    dimension exactly (title_other included — it now comes from the langlinks
    SELF-JOIN, not a stored literal), drop special/titleless pages (O-12),
    and yield NULL title_other for a dangling langlink."""
    from entity_extractor_linker_api_v2_spark import fixtures
    from entity_extractor_linker_api_v2_spark.operators.kb_build import KB_COLS, kb_build

    built = kb_build(fixtures.raw_pages_df(spark)).cache()
    fixture_titles = {(p["title"], p["lang"]) for p in fixtures.KB_PAGES}

    rows = {(r["title"], r["lang"]): r.asDict()
            for r in built.select(*KB_COLS).collect()}
    # noise rows: special page / missing title / whitespace title dropped
    assert ("Spezial:Suche", "de") not in rows
    assert (None, "de") not in rows and ("", "en") not in rows
    # dangling langlink -> present but title_other NULL
    ghost = rows.pop(("Geisterseite", "de"))
    assert ghost["title_other"] is None
    # everything else matches the fixture KB byte-for-byte
    assert set(rows) == fixture_titles
    for p in fixtures.KB_PAGES:
        got = rows[(p["title"], p["lang"])]
        for k in fixtures._K:
            assert got[k] == p[k], (p["title"], p["lang"], k, got[k], p[k])


def test_kb_build_aliases_cover_gazetteer_labels(spark):
    """The alias dictionary derived from the BUILT KB must resolve the same
    probes as the fixture alias dict on the gazetteer label universe."""
    from entity_extractor_linker_api_v2_spark import fixtures
    from entity_extractor_linker_api_v2_spark.operators.kb_build import kb_aliases, kb_build

    built = kb_build(fixtures.raw_pages_df(spark)).filter("title <> 'Geisterseite'")
    derived = {(r["alias"], r["lang"], r["title"])
               for r in kb_aliases(built).collect()}
    fixture = {(a, lang, t) for a, t, lang, _ in fixtures.alias_rows()}
    # initcap vs str.title() agree on this universe (no hyphens/apostrophes)
    assert fixture == derived


def test_lsh_bucket_cap_bounds_pair_blowup(spark):
    """100 identical docs share every band bucket: uncapped LSH would emit
    all C(100,2)=4950 pairs (m^2 blowup per boilerplate cluster); the bucket
    cap keeps the pair count at C(cap,2) — linear in buckets, not members."""
    from entity_extractor_linker_api_v2_spark.operators import dedup
    docs = spark.range(100).selectExpr(
        "id AS doc_id",
        "'alpha beta gamma delta epsilon zeta eta theta' AS text")
    assert dedup.lsh_candidate_pairs(docs, bucket_cap=8).count() == 8 * 7 // 2
    assert dedup.lsh_candidate_pairs(docs, bucket_cap=0).count() == 100 * 99 // 2


def test_neardup_bucket_cap_bounds_pair_blowup(spark):
    """Embedding-LSH analog of the MinHash cap test: 100 identical vectors
    land in the same bucket of EVERY hash table; uncapped that is C(100,2)
    pairs per table (m² per boilerplate cluster), capped it is C(cap,2)
    total (identical id-ordered cap in each table → same pair set, distinct
    collapses the tables)."""
    from entity_extractor_linker_api_v2_spark.operators import similarity
    vecs = spark.range(100).selectExpr(
        "id AS vec_id",
        "transform(sequence(1, 64), i -> CAST(0.5 AS FLOAT)) AS embedding")
    assert similarity.neardup_candidate_pairs(vecs, bucket_cap=8).count() == 8 * 7 // 2
    assert similarity.neardup_candidate_pairs(vecs, bucket_cap=0).count() == 100 * 99 // 2
    # and the exact-cosine verify keeps them all (cosine 1.0 ≥ 0.9)
    assert similarity.embedding_near_dups(vecs, bucket_cap=8).count() == 8 * 7 // 2


def test_neardup_auto_bits_scales_with_corpus(spark):
    """bits=None derives the bucket dial from corpus size: at two corpus
    sizes with DIFFERENT derived bits, the capped multi-table generator must
    still surface every planted intra-cluster pair (identical vectors share
    every bucket) while the total candidate count stays under the structural
    bound tables × 2^bits × C(cap,2) — membership-bounded at any scale."""
    from entity_extractor_linker_api_v2_spark.operators import similarity

    def planted(n, n_clusters=100):
        # cluster id = vec_id % n_clusters; members of a cluster identical
        return spark.range(n).selectExpr(
            "id AS vec_id",
            f"transform(sequence(1, 64), i -> CAST("
            f"  ((i * (1 + id % {n_clusters})) % 19 - 9) / 10.0 AS FLOAT)) AS embedding")

    seen_bits = {}
    for n in (400, 4000):
        bits = similarity.derived_bits(similarity._approx_n(planted(n), "vec_id"))
        seen_bits[n] = bits
        # completeness of the derived-bits generator: uncapped, every planted
        # intra-cluster pair must surface (identical vectors share every
        # bucket; the cap is a separate, orthogonal guard)
        uncapped = {(r["a"], r["b"]) for r in
                    similarity.neardup_candidate_pairs(planted(n), bucket_cap=0)
                    .collect()}
        members = {}
        for vid in range(n):
            members.setdefault(vid % 100, []).append(vid)
        intra = {(a, b) for ms in members.values()
                 for i, a in enumerate(ms) for b in ms[i + 1:]}
        assert intra <= uncapped, f"n={n}: missing planted pairs"
        # boundedness of the capped generator at the same derived bits
        capped = similarity.neardup_candidate_pairs(planted(n)).count()
        bound = (similarity.NEARDUP_TABLES * (2 ** bits)
                 * similarity.NEARDUP_BUCKET_CAP * (similarity.NEARDUP_BUCKET_CAP - 1) // 2)
        assert capped <= bound, f"n={n}: {capped} > structural bound {bound}"
    assert seen_bits[400] < seen_bits[4000], seen_bits


def test_variation_array_matches_refsem_on_tricky_names(spark):
    """Three-way casing agreement, Spark half: the probe-side
    _variations_sql array must equal refsem.name_variations (ordered,
    deduped, original excluded) on hyphenated/apostrophe/digit/umlaut
    names — the cases where initcap and str.title() diverge."""
    from entity_extractor_linker_api_v2_spark import refsem
    from entity_extractor_linker_api_v2_spark.operators.linking import _variations_sql

    names = ["Karl-Marx-Stadt", "karl-marx-stadt", "o'neill", "O'NEILL",
             "Der Weiße Hai", "die brücke", "MÜNCHEN-OST", "a1b c2d",
             "Groß-Gerau", "weiß-blau", "Sankt  Pölten", "D'Artagnan",
             "Entity001", "ÄÖÜ äöü", "Bad Homburg v.d. Höhe"]
    df = spark.createDataFrame([(n,) for n in names], "label string")
    got = {r["label"]: r["vars"] for r in df.selectExpr(
        "label",
        "array_distinct(filter(" + _variations_sql("label")
        + ", v -> v IS NOT NULL AND v != label)) AS vars").collect()}
    for n in names:
        assert got[n] == refsem.name_variations(n), (n, got[n], refsem.name_variations(n))


def test_argmin_sql_matches_numpy_argmin(spark):
    """_argmin_sql (the one-parse construction the IVF/kmeans paths use)
    must give each real embedding the (m, centroid_id) of a numpy argmin
    over the same centroids: centroid_id exact (ties to the smallest id),
    m exact under the same sequential float64 sum of float64 products."""
    import numpy as np

    from entity_extractor_linker_api_v2_spark.operators import similarity as S
    from entity_extractor_linker_api_v2_spark.sources import tables

    df = tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    cents = S._collect_centroids(S.default_centroids(df))
    sql_rows = df.selectExpr(
        "vec_id", "embedding",
        S._argmin_sql("embedding", cents, S._neg_dot_sql) + " AS b"
    ).selectExpr("vec_id", "embedding", "b.m AS m",
                 "b.centroid_id AS centroid_id").collect()
    assert sql_rows
    emb = np.array([r.embedding for r in sql_rows], dtype=np.float64)
    cmat = np.array([cv for _, cv in cents], dtype=np.float64)
    cids = np.array([cid for cid, _ in cents])
    # cumsum accumulates left to right, as aggregate() does (np.sum would
    # sum pairwise and round differently)
    neg_dot = -np.cumsum(emb[:, None, :] * cmat[None, :, :], axis=2)[..., -1]
    best = neg_dot.argmin(axis=1)  # first minimum = smallest centroid_id
    want = [(r.vec_id, float(neg_dot[i, best[i]]), int(cids[best[i]]))
            for i, r in enumerate(sql_rows)]
    assert [(r.vec_id, r.m, r.centroid_id) for r in sql_rows] == want


def test_triple_structs_sql_matches_python_edges(spark):
    """TRIPLE_STRUCTS_SQL (the one-parse construction q12/q15/q16 use) must
    produce, element for element, the per-entity edge array that the rules
    of the triples module docstring give in pure Python, over the real
    entity relation."""
    from pyspark.sql import functions as F

    from entity_extractor_linker_api_v2_spark.operators import triples as TR
    from entity_extractor_linker_api_v2_spark.plans.queries import _entities

    def edges(r):
        out = [("instance_of", r.type)]
        out += [("same_as", v) for v in (r.wikidata_id, r.dbpedia_uri) if v != ""]
        out += [("has_category", c) for c in r.categories]
        out += [("links_to", x) for x in r.internal_links]
        out += [("part_of", x) for x in r.part_of]
        out += [("has_part", x) for x in r.has_part]
        if r.geo_lat is not None and r.geo_lon is not None:
            out.append(("located_at", f"{r.geo_lat},{r.geo_lon}"))
        return out

    rows = _entities(spark, "/root/testdata/sf0.001").select(
        "*", F.expr(TR.TRIPLE_STRUCTS_SQL).alias("arr")).collect()
    assert rows and any(r.geo_lat is not None for r in rows)
    for r in rows:
        assert [tuple(t) for t in r.arr] == edges(r), (r.url, r.label)


def test_ivf_topk_with_prebuilt_index_matches_inline(spark):
    """The build-once IVF index path (ivf_topk(index=...)) must return the
    same top-k as the inline recompute."""
    from entity_extractor_linker_api_v2_spark.operators import similarity
    from entity_extractor_linker_api_v2_spark.sources import tables
    emb = tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    idx = similarity.ivf_assign(emb).cache()
    inline = [tuple(r) for r in similarity.ivf_topk(emb).collect()]
    reused = [tuple(r) for r in similarity.ivf_topk(emb, index=idx).collect()]
    assert inline == reused and len(inline) == 10


def _bfs_partition(edges):
    """{(node, min member of its component)} by BFS over undirected edges."""
    from collections import defaultdict

    adj = defaultdict(set)
    for a, b in edges:
        if a != b:
            adj[a].add(b)
            adj[b].add(a)
    want, seen = set(), set()
    for start in adj:
        if start in seen:
            continue
        comp, frontier = {start}, {start}
        while frontier:
            frontier = {v for u in frontier for v in adj[u]} - comp
            comp |= frontier
        seen |= comp
        want |= {(n, min(comp)) for n in comp}
    return want


def test_star_cc_equals_bfs_partition(spark):
    """small-star/large-star components must produce the (node, comp=min
    member) partition of a pure-Python BFS on chains, hubs, forests, and
    random graphs."""
    import random

    from entity_extractor_linker_api_v2_spark.operators.canonicalize import (
        connected_components_star)

    rng = random.Random(42)
    chain = [(f"n{i:03d}", f"n{i+1:03d}") for i in range(60)]
    hub = [("hub", f"h{i:03d}") for i in range(80)]
    rand = [(f"r{rng.randrange(120):03d}", f"r{rng.randrange(120):03d}")
            for _ in range(150)]
    edges = [(a, b) for a, b in chain + hub + rand if a != b]
    df = spark.createDataFrame(edges, "a string, b string")

    star = {(r["node"], r["comp"]) for r in connected_components_star(df).collect()}
    assert star == _bfs_partition(edges) and len(star) > 0


def test_star_cc_raises_past_round_bound(spark, monkeypatch):
    """A graph still changing after STAR_MAX_ROUNDS rounds raises instead of
    returning a partial partition; a chain is no star forest, so its first
    round changes its edges and a bound of one round cannot be met."""
    from entity_extractor_linker_api_v2_spark.operators import canonicalize

    edges = spark.createDataFrame([("a", "b"), ("b", "c")], "a string, b string")
    monkeypatch.setattr(canonicalize, "STAR_MAX_ROUNDS", 1)
    with pytest.raises(RuntimeError, match="did not converge"):
        canonicalize.connected_components_star(edges)


def _entity_rows(rng, bridges):
    """Seeded entity rows (label, label_de, wikidata_id): 30 disjoint pages,
    two in three under a QID, each with 1-3 mention labels, plus edgeless
    rows (label = label_de, no QID).  Each name's first letter is drawn, so
    a page's minimum member is its QID, its label_de or one of its labels.
    `bridges` joins pages through shared nodes: "label" makes labels
    resolve to two pages; "label_de" puts a label_de under a second QID and
    adds QID-less rows on QID pages' label_de."""
    def name(k, role):
        return f"{rng.choice('AQbz')}{k:02d}{role}"

    pages = [(name(k, "d"), name(k, "q") if k % 3 else "",
              [name(k, f"l{j}") for j in range(rng.randrange(1, 4))])
             for k in range(30)]
    rows = [(lbl, de, qid) for de, qid, labels in pages for lbl in labels]
    rows += [(de, de, qid) for de, qid, _ in pages[::4]]
    rows += [(name(k, "x"),) * 2 + ("",) for k in range(5)]
    for k in range(8):
        (de1, qid1, labels1), (de2, qid2, _) = rng.sample(pages, 2)
        if bridges == "label":
            rows.append((labels1[0], de2, qid2))
        elif bridges == "label_de" and qid1:
            rows.append((name(k, "m"), de1, qid2 or name(k, "r")))
            rows.append((name(k, "n"), de1, ""))
    rng.shuffle(rows)
    return rows


@pytest.mark.parametrize("bridges", [None, "label", "label_de"])
def test_canonical_entities_equals_bfs_partition(spark, bridges):
    """canonical_entities' anchor contraction must give the BFS partition of
    the entity_edges graph, with comp <= node and canonical_id =
    sha256(comp), both without bridges (two aggregations, no CC) and with
    them (star CC over the bridge nodes)."""
    import hashlib
    import random

    from entity_extractor_linker_api_v2_spark.operators.canonicalize import (
        canonical_entities, entity_edges)

    for seed in (1, 2):
        rows = _entity_rows(random.Random(seed), bridges)
        # a bridge is a node under two anchors (QID, else label_de): check
        # the generator really exercises the branch it is meant for
        anchors = {}
        for lbl, de, qid in rows:
            anchor = qid or de
            for n in {lbl, de, anchor} if len({lbl, de, anchor}) > 1 else ():
                anchors.setdefault(n, set()).add(anchor)
        has_bridge = any(len(a) > 1 for a in anchors.values())
        assert has_bridge == (bridges is not None), seed

        df = spark.createDataFrame(
            rows, "label string, label_de string, wikidata_id string")
        want = _bfs_partition(tuple(r) for r in entity_edges(df).collect())
        got = canonical_entities(df).collect()
        assert {(r["node"], r["comp"]) for r in got} == want, seed
        assert len(got) == len(want)
        assert all(r["comp"] <= r["node"] for r in got)
        assert all(r["canonical_id"]
                   == hashlib.sha256(r["comp"].encode()).hexdigest()
                   for r in got)


def test_ivf_recall_monotonic_in_nprobe(spark):
    """The nprobe recall/cost dial: recall@10 vs brute force must be
    monotone in nprobe and EXACT at nprobe = K (probing every inverted list
    IS the brute-force scan).  On these isotropic random embeddings
    single-probe recall is structurally ≈ 1/K — the clustered-data regime
    is where IVF pays; the invariants hold regardless."""
    from entity_extractor_linker_api_v2_spark.operators import similarity
    from entity_extractor_linker_api_v2_spark.sources import tables
    emb = tables.load(spark, "/root/testdata/sf0.01", "embeddings").cache()
    idx = similarity.ivf_assign(emb).cache()
    exact = {r["vec_id"] for r in similarity.brute_force_topk(emb, k=10).collect()}

    def recall(nprobe):
        got = {r["vec_id"] for r in
               similarity.ivf_topk(emb, k=10, index=idx, nprobe=nprobe).collect()}
        return len(exact & got) / 10

    # K = N_CENTROIDS fixed lists (first 16 ids); nprobe >= K probes them all
    r1, r4, rk = recall(1), recall(4), recall(10**6)
    assert r1 <= r4 <= rk
    assert rk == 1.0


def test_closest_level_match_equals_refsem(spark):
    """Spark closest-level (broadcast dim + priority window) must equal
    refsem.closest_level on probes covering every branch: exact,
    exact-case-insensitive (umlaut), substring both directions, fallback."""
    from entity_extractor_linker_api_v2_spark import refsem
    from entity_extractor_linker_api_v2_spark.operators.enrich import closest_level_match
    from entity_extractor_linker_api_v2_spark.plans.queries import LEVEL_PROBES

    df = spark.createDataFrame(list(enumerate(LEVEL_PROBES)),
                               "doc_id long, provided string")
    got = {r["provided"]: r["matched_level"]
           for r in closest_level_match(df, "provided",
                                        refsem.DEFAULT_LEVELS).collect()}
    for p in LEVEL_PROBES:
        assert got[p] == refsem.closest_level(p, refsem.DEFAULT_LEVELS), p


def test_synonym_expand_equals_generator(spark):
    """Broadcast-dict expansion must match DeterministicGenerator.synonyms
    row-by-row: dict words expand in order, unknown words emit zero rows."""
    from entity_extractor_linker_api_v2_spark.functions.generation import (
        DeterministicGenerator)
    from entity_extractor_linker_api_v2_spark.operators.enrich import synonym_expand

    gen = DeterministicGenerator()
    words = ["Berg", "hoch", "Tal", "Fluss"]
    df = spark.createDataFrame(list(enumerate(words)), "doc_id long, w string")
    rows = synonym_expand(df, "w").collect()
    got = {}
    for r in rows:
        got.setdefault(r["doc_id"], []).append((r["syn_idx"], r["synonym"]))
    for i, w in enumerate(words):
        expect = gen.synonyms(w)
        assert [s for _, s in sorted(got.get(i, []))] == expect, w


def test_curate_corpus_planted(spark):
    """Planted corpus: the low-quality doc falls to the quality gate, the
    exact clone to content-hash dedup, the near clone to the LSH+Jaccard
    pass; the two distinct good docs survive."""
    from entity_extractor_linker_api_v2_spark.operators import dedup

    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lamda mu nu xi omicron pi rho sigma tau upsilon")
    other = ("eins zwei drei vier fuenf sechs sieben acht neun zehn "
             "elf zwoelf dreizehn vierzehn fuenfzehn sechzehn siebzehn "
             "achtzehn neunzehn zwanzig")
    docs = spark.createDataFrame(
        [(1, base), (2, base), (3, base + " anhang"), (4, other), (5, "kurz")],
        "doc_id long, text string")
    kept = sorted(r["doc_id"] for r in dedup.curate_corpus(docs).collect())
    assert kept == [1, 4]


def test_simhash_near_dups_lossless_vs_brute_force(spark):
    """Pigeonhole check: the band-bucket candidate generator must recover
    EVERY pair with Hamming <= 3 (4 bands of 8 bits) — compare against the
    brute-force all-pairs Hamming on a small mixed corpus (identical docs,
    one-word edits, unrelated docs)."""
    from entity_extractor_linker_api_v2_spark.operators import dedup

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = [(1, base), (2, base),                      # identical -> hamming 0
            (3, base + " extra"),                      # near
            (4, base.replace("gamma", "uno")),         # near
            (5, "voellig andere woerter hier drin nun ja doch sehr")]
    df = spark.createDataFrame(docs, "doc_id long, text string")

    sh = {r["doc_id"]: r["simhash"] for r in dedup.simhash(df).collect()}
    brute = {(a, b): sum(x != y for x, y in zip(sh[a], sh[b]))
             for a in sh for b in sh if a < b}
    expect = {(a, b, h) for (a, b), h in brute.items() if h <= 3}
    got = {(r["a"], r["b"], r["hamming"])
           for r in dedup.simhash_near_dups(df).collect()}
    assert got == expect
    assert (1, 2, 0) in got


def test_ivf_with_trained_kmeans_centroids(spark):
    """The composition the IVF docstrings promise: k-means-trained centroids
    drop into ivf_assign/ivf_topk unchanged.  Probing every trained inverted
    list must equal brute force; the assignment must be total over the
    trained centroid ids."""
    from entity_extractor_linker_api_v2_spark.operators import similarity
    from entity_extractor_linker_api_v2_spark.sources import tables

    emb = tables.load(spark, "/root/testdata/sf0.01", "embeddings").cache()
    cents = similarity.kmeans_centroids(emb, k=8).cache()
    got = similarity.ivf_topk(emb, k=10, centroids=cents, nprobe=10**6).collect()
    exact = similarity.brute_force_topk(emb, k=10).collect()
    assert [r["vec_id"] for r in got] == [r["vec_id"] for r in exact]

    a = similarity.ivf_assign(emb, centroids=cents)
    assert a.count() == emb.count()
    ids = {r["centroid_id"] for r in a.select("centroid_id").distinct().collect()}
    assert ids <= set(range(8)) and ids


def test_merge_components_equals_full_recompute(spark):
    """Incremental CC (delta-merge of a new edge batch into an existing
    partition) must equal the full recompute over the union of both edge
    batches — including min-member comp labels and singleton carry-through."""
    import random

    from entity_extractor_linker_api_v2_spark.operators.canonicalize import (
        connected_components_star, merge_components)

    rng = random.Random(7)
    all_edges = [(f"n{rng.randrange(60):02d}", f"n{rng.randrange(60):02d}")
                 for _ in range(80)]
    all_edges = [(a, b) for a, b in all_edges if a != b]
    batch1, batch2 = all_edges[:40], all_edges[40:]
    # an isolated singleton known only to the old partition
    e1 = spark.createDataFrame(batch1, "a string, b string")
    e2 = spark.createDataFrame(batch2, "a string, b string")
    comps1 = connected_components_star(e1).unionByName(
        spark.createDataFrame([("loner", "loner")], "node string, comp string"))

    incr = {(r["node"], r["comp"])
            for r in merge_components(comps1, e2).collect()}
    full = {(r["node"], r["comp"])
            for r in connected_components_star(
                e1.unionByName(e2)).collect()}
    assert incr == full | {("loner", "loner")}


def test_merge_components_delta_is_exactly_the_changed_rows(spark):
    """The delta form must return precisely full_recompute MINUS the old
    partition's unchanged rows — new nodes plus nodes whose comp label
    moved, nothing else — for seeded random graphs and uneven splits."""
    import random

    from entity_extractor_linker_api_v2_spark.operators.canonicalize import (
        connected_components_star, merge_components_delta)

    for seed in (3, 11, 42):
        rng = random.Random(seed)
        all_edges = [(f"n{rng.randrange(50):02d}", f"n{rng.randrange(50):02d}")
                     for _ in range(70)]
        all_edges = [(a, b) for a, b in all_edges if a != b]
        cut = rng.randrange(10, 60)
        e1 = spark.createDataFrame(all_edges[:cut], "a string, b string")
        e2 = spark.createDataFrame(all_edges[cut:], "a string, b string")
        comps1 = connected_components_star(e1)
        old = {(r["node"], r["comp"]) for r in comps1.collect()}
        full = {(r["node"], r["comp"])
                for r in connected_components_star(
                    e1.unionByName(e2)).collect()}
        got = {(r["node"], r["comp"])
               for r in merge_components_delta(comps1, e2).collect()}
        assert got == full - old, f"seed {seed}"


def test_merge_delta_prunes_untouched_components(spark):
    """Affected-member pruning: a component none of whose members touches a
    batch edge must NOT enter the merge's CC input.  Plant a large bystander
    component next to a small one the batch touches — affected_members must
    return only the touched component's rows, and the delta must not mention
    any bystander node."""
    from entity_extractor_linker_api_v2_spark.operators.canonicalize import (
        affected_members, connected_components_star, merge_components_delta)

    bystander = [(f"big{i:03d}", f"big{i+1:03d}") for i in range(200)]
    small = [("s1", "s2"), ("s2", "s3")]
    comps = connected_components_star(
        spark.createDataFrame(bystander + small, "a string, b string"))
    batch = spark.createDataFrame([("s3", "a0"), ("a0", "a1")],
                                  "a string, b string")
    batch_nodes = spark.createDataFrame(
        [("s3",), ("a0",), ("a1",)], "node string")

    members = affected_members(comps, batch_nodes)
    got_nodes = {r["node"] for r in members.collect()}
    assert got_nodes == {"s1", "s2", "s3"}, got_nodes  # bystanders excluded

    # the probe plan broadcasts the batch side; the state side carries no
    # shuffle introduced by the probes themselves (its own lineage aside)
    plan = members._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") >= 2, plan

    # min member of {s1,s2,s3,a0,a1} is a0 — every old member's label moves
    # and both new nodes arrive: exactly five delta rows, no bystanders
    delta = {(r["node"], r["comp"])
             for r in merge_components_delta(comps, batch).collect()}
    assert delta == {("s1", "a0"), ("s2", "a0"), ("s3", "a0"),
                     ("a0", "a0"), ("a1", "a0")}, delta


def test_media_embed_bridges_to_similarity_operators(spark):
    """The multimodal→vector bridge must feed the similarity operators
    unchanged: duplicate payloads planted under new ids produce identical
    embeddings, and embedding_near_dups over the bridged frame must surface
    EVERY planted pair (identical vectors share all buckets); every emitted
    pair must verify against an independent python cosine."""
    import math

    from pyspark.sql import functions as F

    from entity_extractor_linker_api_v2_spark.operators import multimodal, similarity

    m = multimodal.synth_media(spark, 64)
    dup = m.withColumn("media_id", F.col("media_id") + 1000)
    emb = (multimodal.media_embed(m.unionByName(dup))
           .withColumnRenamed("media_id", "vec_id"))

    pairs = {(r["a"], r["b"]): r["cosine"]
             for r in similarity.embedding_near_dups(
                 emb, threshold=0.999, bucket_cap=0).collect()}
    planted = {(i, i + 1000) for i in range(64)}
    assert planted <= set(pairs), sorted(planted - set(pairs))[:5]

    vecs = {r["vec_id"]: [float(x) for x in r["embedding"]] for r in emb.collect()}
    for (a, b), got_cos in pairs.items():
        u, v = vecs[a], vecs[b]
        cos = (sum(x * y for x, y in zip(u, v))
               / (math.sqrt(sum(x * x for x in u)) * math.sqrt(sum(x * x for x in v))))
        assert abs(round(cos, 3) - float(got_cos)) < 1e-9
        assert round(cos, 3) >= 0.999


def test_extended_lsh_planes_are_distinct():
    """Guard for the round-4 review finding: the legacy mod-7/mod-19 plane
    families have only 6/18 distinct members, so derived bit counts beyond
    the legacy four must draw from the extended family — and the full plane
    list at the clamp maximum (24 bits) must contain no duplicate normals,
    per table and across tables."""
    from entity_extractor_linker_api_v2_spark.operators import similarity

    # lsh_buckets family at max derived planes
    planes = ([tuple(similarity.hyperplane(j)) for j in range(4)]
              + [tuple(similarity.extended_plane(j)) for j in range(4, 24)])
    assert len(set(planes)) == len(planes)
    assert not any(len(set(p)) == 1 for p in planes)  # no constant normals

    # neardup tables at max derived bits
    all_planes = []
    for t in range(similarity.NEARDUP_TABLES):
        tp = [tuple(p) for p in similarity._table_planes(t, 24)]
        assert len(set(tp)) == len(tp), f"table {t} has duplicate planes"
        all_planes.extend(tp)
    assert len(set(all_planes)) == len(all_planes), "cross-table duplicates"
    assert not any(len(set(p)) == 1 for p in all_planes)
