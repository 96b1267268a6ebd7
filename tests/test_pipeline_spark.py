"""End-to-end Spark pipeline tests: golden-triple P/R, byte-identical text,
per-operator behaviors that aren't SQL-expressible."""

import io
from contextlib import redirect_stdout

import duckdb
import pytest

import refpipe
from conftest import SF_SMALL
from entity_extractor_linker_api_v2_spark import refsem
from entity_extractor_linker_api_v2_spark.plans.pipeline import run_pipeline


@pytest.fixture(scope="module")
def pipe(spark):
    out = run_pipeline(spark, SF_SMALL)
    out["entities"] = out["entities"].cache()
    return out


def _documents_rows():
    return duckdb.connect().execute(
        f"SELECT doc_id, text, lang FROM '{SF_SMALL}/documents.parquet'").fetchall()


def test_golden_triples_precision_recall(pipe):
    golden = refpipe.golden_triples(_documents_rows())
    got = {(r.url, r.subj, r.pred, r.obj) for r in pipe["triples"].collect()}
    # located_at float formatting: golden uses python str(float) == Spark cast
    tp = len(got & golden)
    precision = tp / len(got) if got else 0.0
    recall = tp / len(golden) if golden else 0.0
    assert precision >= 0.95, f"precision {precision}: extra={list(got - golden)[:5]}"
    assert recall >= 0.95, f"recall {recall}: missing={list(golden - got)[:5]}"
    # we expect exact match, not just 0.95
    assert precision == 1.0 and recall == 1.0


def test_byte_identical_extracted_text(pipe):
    rows = pipe["docs"].select("body_text", "extracted_text").limit(200).collect()
    assert rows
    for r in rows:
        assert r.extracted_text.encode("utf-8") == refsem.clean_text(r.body_text).encode("utf-8")


def test_native_html_matches_render_html(pipe):
    """derive_docs' native html expression == refsem.render_html(body_text)
    byte-for-byte, including the escaping of &, <, > in text nodes."""
    rows = pipe["docs"].select("body_text", "html").limit(200).collect()
    assert rows
    for r in rows:
        assert bytes(r.html) == refsem.render_html(r.body_text)


def test_entities_match_refpipe_status(pipe):
    """Spark status/wikidata per (url,label) == sequential reference chain."""
    want = {}
    for url, body, link_lang in refpipe.derive_docs(_documents_rows()):
        for label, etype, _ in refpipe.extract_mentions(body):
            r = refpipe.entity_record(url, label, etype, link_lang)
            want[(url, label)] = (r["linked"], r["wikidata_id"], r["label_de"], r["dbpedia_uri"])
    got = {(r.url, r.label): (r.status, r.wikidata_id, r.label_de, r.dbpedia_uri)
           for r in pipe["entities"].collect()}
    assert set(got) == set(want)
    diffs = {k: (got[k], want[k]) for k in want if got[k] != want[k]}
    assert not diffs, f"first diffs: {list(diffs.items())[:5]}"


def test_docs_table_rejects_quote_in_sql_literal(spark, monkeypatch):
    """derive_docs embeds fixture text as SQL string literals: a quote in
    the skew sentence must trip the literal guard, not reach the parser."""
    from entity_extractor_linker_api_v2_spark import fixtures
    from entity_extractor_linker_api_v2_spark.sources import tables
    monkeypatch.setattr(fixtures, "SKEW_SENTENCE", "Berlin's Mitte.")
    with pytest.raises(AssertionError):
        tables.docs_table(spark, SF_SMALL)


def test_entity_cache_evicts_dirs(spark, tmp_path):
    """The session entity cache must EVICT under corpus churn, not
    accumulate persisted lineage: beyond _MAX_DIRS_PER_SESSION corpora in
    one session, the oldest corpus's BOTH pinned frames (entities +
    mentions) are unpersisted and a re-request is a rebuild (miss event).
    Round-7 guard for the 10x-scale regime where each cached corpus pins
    tens of GB (measured variant: scripts/cache_evict_check.py)."""
    import os

    from entity_extractor_linker_api_v2_spark.plans import queries as Q

    dirs, first_entry = [], None
    for tag in "abcd":  # one more than the cap of 3
        p = tmp_path / f"corpus_{tag}"
        os.symlink(SF_SMALL, p)  # distinct cache keys onto the same data
        dirs.append(str(p))
    try:
        for i, d in enumerate(dirs):
            Q._entities(spark, d).count()  # materialize the persists
            if i == 0:
                first_entry = Q._ENTITY_CACHE[spark][d]
        per = Q._ENTITY_CACHE[spark]
        assert len(per) == Q._MAX_DIRS_PER_SESSION
        assert dirs[0] not in per and dirs[-1] in per
        ent0, ments0 = first_entry
        assert not ent0.is_cached and not ments0.is_cached, \
            "evicted corpus left pinned frames behind"
        assert per[dirs[-1]][0].is_cached  # survivors stay pinned
        Q.drain_entity_cache_events()
        Q._entities(spark, dirs[0])  # evicted -> rebuild, recorded as miss
        assert Q.drain_entity_cache_events() == [False]
    finally:
        per = Q._ENTITY_CACHE.get(spark, {})
        for d in dirs:
            if d in per:
                Q._unpersist_entry(per.pop(d))


def test_mention_cap(spark):
    """Per-url cap keeps first max_entities mentions in text order."""
    from entity_extractor_linker_api_v2_spark.operators import mentions as M
    rows = [("u1", "de", f"s{i}", f"L{i}", "T", i + 1) for i in range(15)]
    df = spark.createDataFrame(
        rows, "url string, link_lang string, surface string, label string, type string, pos int")
    out = M.dedup_and_cap(df, max_entities=10).collect()
    assert len(out) == 10
    assert {r.label for r in out} == {f"L{i}" for i in range(10)}


def test_mention_dedup_keeps_first(spark):
    from entity_extractor_linker_api_v2_spark.operators import mentions as M
    rows = [("u1", "de", "Berlin", "Berlin", "LOC", 5),
            ("u1", "de", "berlin", "berlin", "LOC", 9)]
    df = spark.createDataFrame(
        rows, "url string, link_lang string, surface string, label string, type string, pos int")
    out = M.dedup_and_cap(df).collect()
    assert len(out) == 1 and out[0].pos == 5


def test_pipeline_chain_linker_compendium_qa_one_lineage(spark):
    """Reference /pipeline chain (app/api/v1/pipeline.py:196-265): linker →
    compendium → qa as ONE DataFrame lineage from pipeline_from_docs output,
    in BOTH linker modes.

    extract mode: the chained outputs must be value-identical to the
    per-stage driver queries q47_compendium / q48_qa_pairs (which build
    their own entities via the fused path — this also re-asserts
    fused ≡ staged at the chain level).  generate mode: the same chain must
    run end-to-end with generate-mode row-count invariants (one compendium
    row per doc; one QA pair per non-empty-extract entity)."""
    from pyspark.sql import functions as F

    from entity_extractor_linker_api_v2_spark.plans.pipeline import (
        pipeline_from_docs)
    from entity_extractor_linker_api_v2_spark.plans.queries import (
        compendium_from, q_compendium, q_qa_pairs, qa_pairs_from)
    from entity_extractor_linker_api_v2_spark.sources import tables

    docs = tables.docs_table(spark, SF_SMALL, with_html=True)
    plain_docs = tables.docs_table(spark, SF_SMALL, with_html=False)

    # --- extract mode: chain ≡ per-stage queries (value-level) ---
    ents = pipeline_from_docs(spark, docs)["entities"].persist()
    comp = compendium_from(plain_docs, ents)
    qa = qa_pairs_from(ents)
    want_comp = sorted(tuple(r) for r in q_compendium(spark, SF_SMALL).collect())
    want_qa = sorted(tuple(r) for r in q_qa_pairs(spark, SF_SMALL).collect())
    assert sorted(tuple(r) for r in comp.collect()) == want_comp
    assert sorted(tuple(r) for r in qa.collect()) == want_qa
    assert len(want_comp) > 0 and len(want_qa) > 0

    # --- generate mode: same chain, generate-mode invariants ---
    gents = pipeline_from_docs(spark, docs, mode="generate")["entities"].persist()
    gcomp = compendium_from(plain_docs, gents)
    gqa = qa_pairs_from(gents)
    assert gcomp.count() == plain_docs.count()  # one markdown per doc
    assert gqa.count() == gents.filter(F.col("extract") != "").count()
    # every generate-mode QA question follows the O-5 template
    assert gqa.filter(~F.col("question").startswith("Was ist ")).count() == 0
    ents.unpersist()
    gents.unpersist()


def test_replicate_guard_matches_url_namespace(spark):
    """replicate_documents must reject a k that would push doc ids past the
    URL_ID_DIGITS zero-pad width (lpad TRUNCATES over-length ids in both
    Spark and DuckDB — silent url collisions), and accept one that fits.
    The width was widened 6->8 digits for the 10M-page scale-step corpus;
    this pins guard and width together so neither moves alone."""
    import pytest as _pytest

    from entity_extractor_linker_api_v2_spark import fixtures
    from entity_extractor_linker_api_v2_spark.sources import tables

    limit = 10 ** fixtures.URL_ID_DIGITS
    df = spark.createDataFrame(
        [(limit // 10 - 1, "t", "de")], "doc_id long, text string, lang string")
    # (max+1)*k == limit exactly -> max id = limit-1, still representable
    ok = tables.replicate_documents(df, 10)
    assert ok.count() == 10
    derived = tables.derive_docs(ok, with_html=False)
    assert derived.select("url").distinct().count() == 10
    with _pytest.raises(ValueError, match="url namespace"):
        tables.replicate_documents(df, 11)


def _plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain()
    return buf.getvalue()


def _cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def _jobs(spark, group, action):
    """(action's result, the number of Spark jobs it ran), counted
    through a job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        result = action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return result, len(sc.statusTracker().getJobIdsForGroup(group))


def _write_outputs(out, tmp_path):
    """Write the three sinks and collect the four stats of a pipeline
    output dict."""
    for name in ("entities", "triples", "nodes"):
        out[name].write.mode("overwrite").parquet(str(tmp_path / name))
    for name in ("types_distribution", "top10_categories",
                 "linked_stats", "extraction_stats"):
        out[name].collect()


def test_pipeline_materializes_each_layer_once_per_call(spark):
    """pipeline_from_docs runs its layers at call time, once per call: the
    returned entities are a checkpoint scan (writing the sinks and
    collecting the stats cannot rerun extraction), a second call on the
    same docs computes afresh instead of reusing the first call's rows, and
    no call leaves anything in Spark's CacheManager."""
    from entity_extractor_linker_api_v2_spark.operators import linking
    from entity_extractor_linker_api_v2_spark.plans.pipeline import (
        pipeline_from_docs)
    from entity_extractor_linker_api_v2_spark.sources import tables

    def rdd_id(df):  # a checkpointed frame's logical plan is one LogicalRDD
        return df._jdf.queryExecution().logical().rdd().id()

    spark.catalog.clearCache()  # other tests' caches share this session
    docs = tables.docs_table(spark, SF_SMALL)
    first = pipeline_from_docs(spark, docs, fused=True)
    assert "MapInPandas" not in _plan(first["entities"])
    for name in ("triples", "nodes", "types_distribution", "linked_stats"):
        assert "MapInPandas" not in _plan(first[name]), name

    sc = spark.sparkContext
    sc.setJobGroup("second-call", "second pipeline_from_docs call")
    try:
        second = pipeline_from_docs(spark, docs, fused=True)
    finally:
        sc.setJobGroup("", "")
    assert sc.statusTracker().getJobIdsForGroup("second-call")
    assert rdd_id(second["entities"]) != rdd_id(first["entities"])
    assert sorted(map(tuple, first["entities"].collect())) == \
        sorted(map(tuple, second["entities"].collect()))
    assert _cache_empty(spark)

    composable = pipeline_from_docs(spark, docs)
    assert "ArrowEvalPython" not in _plan(composable["entities"])
    assert _cache_empty(spark)
    ments = composable["mentions"]
    assert linking.link_mentions(spark, ments).count() == \
        composable["entities"].count()
    assert _cache_empty(spark)


def test_pipeline_job_counts(spark, tmp_path):
    """The Spark jobs of one fused pipeline_from_docs call on SF_SMALL in
    the test session (local[8], 8 shuffle partitions), pinned: 8 for the
    call, and 13 for writing its three sinks and collecting its four
    stats, of which types_distribution takes 2 — its per-type aggregate is
    sorted in one partition, so no range exchange samples it.  A change
    that adds or removes a pass shows up here."""
    from entity_extractor_linker_api_v2_spark.operators import stats as S
    from entity_extractor_linker_api_v2_spark.plans.pipeline import (
        pipeline_from_docs)
    from entity_extractor_linker_api_v2_spark.sources import tables

    docs = tables.docs_table(spark, SF_SMALL)
    out, call_jobs = _jobs(spark, "job-count-call",
                           lambda: pipeline_from_docs(spark, docs, fused=True))
    _, output_jobs = _jobs(spark, "job-count-outputs",
                           lambda: _write_outputs(out, tmp_path))
    _, types_jobs = _jobs(spark, "job-count-types",
                          lambda: S.types_distribution(out["entities"]).collect())
    assert (call_jobs, output_jobs, types_jobs) == (8, 13, 2)


def _canonical_entities_jobs(spark, entities, group):
    """The Spark jobs of one canonical_entities call plus its collect."""
    from entity_extractor_linker_api_v2_spark.operators.canonicalize import (
        canonical_entities)

    rows, n = _jobs(spark, group, lambda: canonical_entities(entities).collect())
    assert rows
    return n


def test_canonical_entities_job_count(spark):
    """The Spark jobs of one canonical_entities call plus its collect on the
    SF_SMALL entities (no bridge node there), pinned at 6: the pairs
    checkpoint takes 3 (the distinct's and the anchor window's exchanges,
    then the write), the per-node aggregate 2 (its bridge count is observed
    on that job), the collect 1.  The star-CC rounds this replaced took
    24."""
    from entity_extractor_linker_api_v2_spark.plans.pipeline import (
        pipeline_from_docs)
    from entity_extractor_linker_api_v2_spark.sources import tables

    entities = pipeline_from_docs(
        spark, tables.docs_table(spark, SF_SMALL), fused=True)["entities"]
    entities.count()
    assert _canonical_entities_jobs(spark, entities,
                                    "job-count-canonical") == 6


@pytest.mark.parametrize("bridges,want", [("label", 22), ("label_de", 36)])
def test_canonical_entities_bridge_job_count(spark, bridges, want):
    """The same count on seeded entity graphs WITH bridge nodes, where star
    CC runs over the anchor groups' minimum nodes: 22 when a label resolves
    to two pages (the contracted edges already form stars, so one round
    confirms them), 36 with label_de bridges (three rounds).  CC over the
    whole entity_edges graph took 42 and 51 jobs on the same rows."""
    import random

    from test_operators import _entity_rows

    entities = spark.createDataFrame(
        _entity_rows(random.Random(1), bridges),
        "label string, label_de string, wikidata_id string").localCheckpoint()
    assert _canonical_entities_jobs(
        spark, entities, f"job-count-canonical-{bridges}") == want


def test_link_mentions_job_counts(spark, tmp_path):
    """The Spark jobs of one link_mentions call on the persisted SF_SMALL
    mentions in the test session, and of writing its entities, triples and
    nodes and collecting the four stats (the composable path perfbench's
    entity_dense job runs), pinned: 10 for the call, 13 for the outputs.
    The call materializes the entity relation, so the outputs re-run no
    resolution broadcast and no join-back: with only the resolved keys
    checkpointed, the call took 9 jobs and the outputs 27.  The returned
    entities are a checkpoint scan, and the call leaves the CacheManager
    empty."""
    from entity_extractor_linker_api_v2_spark.operators import (
        linking, stats as S, triples as T)
    from entity_extractor_linker_api_v2_spark.operators.extract import (
        extract_and_detect)
    from entity_extractor_linker_api_v2_spark.sources import tables

    spark.catalog.clearCache()  # other tests' caches share this session
    ments = extract_and_detect(tables.docs_table(spark, SF_SMALL),
                               dedup=True).persist()
    ments.count()
    try:
        e, call_jobs = _jobs(spark, "link-count-call",
                             lambda: linking.link_mentions(spark, ments))
    finally:
        ments.unpersist()
    assert _cache_empty(spark)
    assert "BroadcastHashJoin" not in _plan(e)
    out = {"entities": e, "triples": T.emit_triples(e),
           "nodes": T.nodes_table(e),
           "types_distribution": S.types_distribution(e),
           "top10_categories": S.top10(e, "categories"),
           "linked_stats": S.linked_stats(e),
           "extraction_stats": S.extraction_stats(e)}
    _, output_jobs = _jobs(spark, "link-count-outputs",
                           lambda: _write_outputs(out, tmp_path))
    assert (call_jobs, output_jobs) == (10, 13)
