"""Physical-plan audits: the properties that make this engine viable at
100 TB must be visible in the plans, not just claimed."""

import io
from contextlib import redirect_stdout

from conftest import SF_SMALL


def _plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _exchange_args(plan: str, op_id: str) -> str:
    """The Arguments line of plan operator `(op_id) Exchange`."""
    import re
    m = re.search(rf"\({op_id}\) Exchange\s*\n(?:.+\n)*?Arguments: (.+)", plan)
    return m.group(1) if m else ""


def _is_scan_floor(plan: str, tree_line: str) -> bool:
    """True when a tree Exchange line is the documented scan-parallelism
    floor (sources.tables.scan_parallel / _dedup_corpus): a single
    round-robin repartition of a sub-split-sized input — a no-op at any
    real scale — which plan audits that forbid corpus-side HASH shuffles
    must not trip on."""
    import re
    m = re.search(r"Exchange \((\d+)\)", tree_line)
    return bool(m) and ("roundrobinpartitioning"
                        in _exchange_args(plan, m.group(1)).lower())


def test_linking_joins_are_broadcast(spark):
    """All dimension joins in the linking stage must be broadcast — a
    sort-merge join on the probe side would shuffle the corpus.
    link_mentions checkpoints its entity relation, so the lazy lineage it
    materializes (the join-back over resolve_keys) is audited."""
    from entity_extractor_linker_api_v2_spark.operators import linking
    from entity_extractor_linker_api_v2_spark.operators.extract import extract_and_detect
    from entity_extractor_linker_api_v2_spark.sources import tables
    ments = extract_and_detect(tables.docs_table(spark, SF_SMALL), dedup=True)
    keys = ments.select("label", "link_lang").distinct()
    plan = _plan(linking.link_mentions_precomputed(
        ments, linking.resolve_keys(spark, keys)))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan



def test_literal_tables_are_local_relations(spark, monkeypatch):
    """The fixture dimensions and resolve_label_universe's key frame are
    driver-side literal tables planned as LocalRelations (one Arrow batch,
    a finite size estimate), not LogicalRDDs over Python-parallelized rows,
    and keep the schemas they had as createDataFrame(<list>) frames."""
    from entity_extractor_linker_api_v2_spark import fixtures
    from entity_extractor_linker_api_v2_spark.operators import linking
    seen = {}
    resolve_keys = linking.resolve_keys

    def spy(spark_, keys, *args, **kwargs):
        seen["keys"] = keys
        return resolve_keys(spark_, keys, *args, **kwargs)

    monkeypatch.setattr(linking, "resolve_keys", spy)
    assert linking.resolve_label_universe(spark, ["Berlin"]).count() == 2
    frames = {
        "kb_pages_df": (fixtures.kb_pages_df(spark),
                        "struct<title:string,lang:string,title_other:string,"
                        "abstract:string,wikidata_id:string,"
                        "categories:array<string>,internal_links:array<string>,"
                        "infobox_type:string,geo_lat:double,geo_lon:double,"
                        "thumbnail_url:string,instance_of:array<string>,"
                        "subclass_of:array<string>,part_of:array<string>,"
                        "has_part:array<string>>"),
        "aliases_df": (fixtures.aliases_df(spark),
                       "struct<alias:string,title:string,lang:string,alias_prio:int>"),
        "redirects_df": (fixtures.redirects_df(spark),
                         "struct<from_title:string,to_title:string,lang:string>"),
        "gazetteer_df": (fixtures.gazetteer_df(spark),
                         "struct<surface:string,label:string,type:string>"),
        "label universe keys": (seen["keys"],
                                "struct<label:string,link_lang:string>"),
    }
    for name, (df, schema) in frames.items():
        assert df._jdf.queryExecution().analyzed().nodeName() == "LocalRelation", name
        assert df.schema.simpleString() == schema, name

def test_fused_pipeline_corpus_side_has_no_shuffle(spark):
    """The fused throughput path is map-only on the CORPUS side: any shuffle
    Exchange must live inside the broadcast (dimension) subtree — i.e. appear
    after the first BroadcastExchange in the plan tree.  The probe side is
    Scan → MapInPandas → Project → BroadcastHashJoin with no Exchange.
    The audited plan is the lazy lineage that pipeline_from_docs(fused=True)
    materializes (its returned entities are a checkpoint scan)."""
    from entity_extractor_linker_api_v2_spark.plans.pipeline import fused_lineage
    from entity_extractor_linker_api_v2_spark.sources import tables
    plan = _plan(fused_lineage(spark, tables.docs_table(spark, SF_SMALL))[1])
    tree = plan.splitlines()
    first_bcast = next(i for i, ln in enumerate(tree) if "BroadcastExchange" in ln)
    corpus_shuffles = [ln for ln in tree[:first_bcast]
                       if "Exchange" in ln and "Broadcast" not in ln
                       and not _is_scan_floor(plan, ln)]
    assert not corpus_shuffles, f"corpus-side shuffles: {corpus_shuffles}"
    assert "MapInPandas" in plan


def test_closest_level_is_pure_map_side(spark):
    """closest_level_match is an array-expression argmin over literal levels:
    the enrich stage must add NO Exchange and NO join to its input plan."""
    from entity_extractor_linker_api_v2_spark import refsem
    from entity_extractor_linker_api_v2_spark.operators.enrich import closest_level_match
    from entity_extractor_linker_api_v2_spark.sources import tables
    docs = tables.load(spark, SF_SMALL, "documents")
    plan = _plan(closest_level_match(docs, "text", refsem.DEFAULT_LEVELS))
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan


def test_ivf_assign_is_map_side(spark):
    """ivf_assign inlines the driver-collected centroids as literals: the
    assignment plan must contain no Exchange and no Join (the old n×K
    crossJoin + per-id window shuffled the corpus once per call)."""
    from entity_extractor_linker_api_v2_spark.operators import similarity
    from entity_extractor_linker_api_v2_spark.sources import tables
    emb = tables.load(spark, SF_SMALL, "embeddings")
    plan = _plan(similarity.ivf_assign(emb))
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan


def test_parquet_filter_pushdown(spark):
    """Predicate + projection must reach the parquet scan."""
    from entity_extractor_linker_api_v2_spark.sources import tables
    li = tables.load(spark, SF_SMALL, "lineitem")
    import pyspark.sql.functions as F
    df = li.filter(F.col("l_quantity") > 40).select("l_orderkey", "l_quantity")
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,40.0)]" in plan
    assert "ReadSchema" in plan
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "l_shipdate" not in read_schema  # column pruning


def test_wholestage_codegen_covers_minhash(spark):
    """Minhash signature math must stay inside codegen (no Python)."""
    from entity_extractor_linker_api_v2_spark.operators import dedup
    from entity_extractor_linker_api_v2_spark.sources import tables
    df = dedup.minhash_signatures(tables.load(spark, SF_SMALL, "documents"))
    plan = _plan(df)
    # higher-order functions (transform/lambda) run as JVM expressions but
    # opt out of whole-stage fusion — the guarantee is: zero Python nodes.
    assert "codegen id" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "MapInPandas" not in plan


def test_topk_is_limit_after_sort(spark):
    from entity_extractor_linker_api_v2_spark.operators import similarity
    from entity_extractor_linker_api_v2_spark.sources import tables
    plan = _plan(similarity.brute_force_topk(tables.load(spark, SF_SMALL, "embeddings")))
    assert "TakeOrderedAndProject" in plan  # per-partition top-k + single reduce


def test_kmeans_centroid_update_is_partial_agg_not_explode(spark):
    """Centroid recompute must be per-dimension partial_avg aggregates
    (map-side combine; k×dim partials cross the exchange) — a posexplode
    formulation would shuffle n×dim rows per iteration (visible as a
    Generate node feeding the aggregate).  Since the literal-centroid
    rewrite, the ASSIGNMENT plan is a pure Scan→Project (no Exchange at
    all); the avg partials live in the centroid-update job."""
    from entity_extractor_linker_api_v2_spark.operators import similarity
    from entity_extractor_linker_api_v2_spark.plans.queries import q_kmeans
    from entity_extractor_linker_api_v2_spark.sources import tables
    assign_plan = _plan(q_kmeans(spark, SF_SMALL))
    assert "Exchange" not in assign_plan
    assert "Generate" not in assign_plan
    cents_plan = _plan(similarity.kmeans_centroids(
        tables.load(spark, SF_SMALL, "embeddings")))
    assert "partial_avg" in cents_plan
    assert "Generate" not in cents_plan


def test_simhash_is_single_pass_no_shuffle(spark):
    """One-pass simhash: no Exchange (per-row array math only) and exactly
    one md5 call site in the expression tree (the naive per-bit formulation
    had 32)."""
    from entity_extractor_linker_api_v2_spark.plans.queries import q_simhash
    plan = _plan(q_simhash(spark, SF_SMALL))
    shuffles = [ln for ln in plan.splitlines()
                if ln.strip().startswith(("Exchange", "+- Exchange"))
                or (" Exchange (" in ln and "Broadcast" not in ln)]
    non_floor = [ln for ln in shuffles if not _is_scan_floor(plan, ln)]
    assert not non_floor, f"non-floor shuffles in simhash plan: {non_floor}"
    # word-hash appears once per plan-detail rendering (~3 mentions);
    # the naive per-bit formulation put 32 md5 calls in the tree (>30)
    assert plan.count("md5") <= 4


def test_lsh_bucket_cap_reuses_band_shuffle(spark):
    """The bucket-cap window must partition on the SAME (band_id, band_key)
    key as the pair join — exactly one shuffle on band keys feeds both."""
    from entity_extractor_linker_api_v2_spark.plans.queries import q_lsh_pairs
    plan = _plan(q_lsh_pairs(spark, SF_SMALL))
    assert "WindowGroupLimit" in plan or "Window" in plan
    # band-key exchanges: the cap window + the self-join sides share
    # hashpartitioning on (band_id, band_key); no exchange on raw text
    assert "hashpartitioning(band_id" in plan


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    """Two tables bucketed on the join key with equal bucket counts must
    join with ZERO Exchange (no shuffle, no sort beyond the bucket order) —
    the pay-once-at-ingest regime for repeated fact×dimension joins."""
    from pyspark.sql import functions as F

    from entity_extractor_linker_api_v2_spark.operators.extract import extract_and_detect
    from entity_extractor_linker_api_v2_spark.sources import tables
    from entity_extractor_linker_api_v2_spark.sources.bucketed import (
        bucketed_join, save_bucketed)

    ments = extract_and_detect(tables.docs_table(spark, SF_SMALL), dedup=True)
    dim = ments.select("label").distinct().withColumn(
        "dim_val", F.sha2("label", 256))
    save_bucketed(ments, "t_mentions_b", ["label"], buckets=4)
    save_bucketed(dim, "t_dim_b", ["label"], buckets=4)
    try:
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            j = bucketed_join("t_mentions_b", "t_dim_b", ["label"], spark)
            plan = _plan(j)
            assert "SortMergeJoin" in plan
            assert "Exchange" not in plan, plan
            # and the result matches the plain join
            plain = ments.join(dim, "label")
            assert j.count() == plain.count() > 0
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    finally:
        spark.sql("DROP TABLE IF EXISTS t_mentions_b")
        spark.sql("DROP TABLE IF EXISTS t_dim_b")


def test_ivf_index_probe_prunes_buckets(spark):
    """save_ivf_index + ivf_topk_indexed: the probe must (a) return exactly
    the inline ivf_topk result at the same nprobe, and (b) plan as a
    bucket-pruned scan — SelectedBucketsCount < total, zero Exchange, zero
    Join (the build-once index regime: a query reads ~nprobe/K of the
    files)."""
    from entity_extractor_linker_api_v2_spark.operators import similarity
    from entity_extractor_linker_api_v2_spark.sources import tables
    emb = tables.load(spark, SF_SMALL, "embeddings")
    similarity.save_ivf_index(emb, "t_ivf_index")
    try:
        for nprobe in (1, 3):
            got = similarity.ivf_topk_indexed(spark, "t_ivf_index", nprobe=nprobe)
            want = similarity.ivf_topk(emb, nprobe=nprobe)
            assert [tuple(r) for r in got.collect()] == \
                   [tuple(r) for r in want.collect()], f"nprobe={nprobe}"
        plan = _plan(similarity.ivf_topk_indexed(spark, "t_ivf_index", nprobe=3))
        import re
        m = re.search(r"SelectedBucketsCount: (\d+) out of (\d+)", plan)
        assert m, plan
        # ≤ nprobe buckets scanned (ids can hash-collide into one bucket),
        # strictly fewer than the total — the probe reads ~nprobe/K files
        assert int(m.group(1)) <= 3 < int(m.group(2)), m.groups()
        assert "Exchange" not in plan, plan
        assert "Join" not in plan, plan
        # rebind=True: same values, but the frame lives in the CALLER's
        # session so it joins cleanly with parent-session frames (the
        # default child-bound frame cannot — cross-session plans fail)
        bound = similarity.ivf_topk_indexed(spark, "t_ivf_index", nprobe=3,
                                            rebind=True)
        assert [tuple(r) for r in bound.collect()] == \
               [tuple(r) for r in
                similarity.ivf_topk(emb, nprobe=3).collect()]
        joined = bound.join(emb.select("vec_id", "label"), "vec_id")
        assert joined.count() == bound.count()
    finally:
        spark.sql("DROP TABLE IF EXISTS t_ivf_index")
        spark.sql("DROP TABLE IF EXISTS t_ivf_index_centroids")


def test_ivf_index_rebuild_is_visible_to_cached_probe_session(spark, tmp_path):
    """The probe runs on a CACHED child session whose relation cache is not
    invalidated by the parent's saveAsTable: without an explicit
    refreshTable per probe, rebuilding the index (same table name, new data
    / new external path) silently serves the PREVIOUS build's files — the
    old scratch dir still exists, so the stale read succeeds.  Regression
    test: rebuild with shifted vec_ids and assert the probe follows."""
    from pyspark.sql import functions as F

    from entity_extractor_linker_api_v2_spark.operators import similarity
    from entity_extractor_linker_api_v2_spark.sources import tables

    emb = tables.load(spark, SF_SMALL, "embeddings")
    shifted = emb.withColumn("vec_id", F.col("vec_id") + F.lit(1_000_000))
    try:
        similarity.save_ivf_index(emb, "t_ivf_stale",
                                  path=str(tmp_path / "a"))
        first = {r["vec_id"] for r in
                 similarity.ivf_topk_indexed(spark, "t_ivf_stale").collect()}
        similarity.save_ivf_index(shifted, "t_ivf_stale",
                                  path=str(tmp_path / "b"))
        second = {r["vec_id"] for r in
                  similarity.ivf_topk_indexed(spark, "t_ivf_stale").collect()}
        assert first and all(v < 1_000_000 for v in first)
        assert second == {v + 1_000_000 for v in first}
    finally:
        spark.sql("DROP TABLE IF EXISTS t_ivf_stale")
        spark.sql("DROP TABLE IF EXISTS t_ivf_stale_centroids")


def test_bucketed_kb_linking_shuffles_probes_only(spark):
    """Beyond-broadcast linking regime: with the alias/KB dimensions stored
    bucketed on their join keys, resolve_candidates_bucketed must (a) pick
    the same best pages as the broadcast path, and (b) plan every dimension
    scan WITHOUT an Exchange above it — only the (small) probe relation
    shuffles to the bucket layout."""
    from pyspark.sql import functions as F

    from entity_extractor_linker_api_v2_spark import fixtures
    from entity_extractor_linker_api_v2_spark.operators import linking, mentions
    from entity_extractor_linker_api_v2_spark.operators.extract import extract_and_detect
    from entity_extractor_linker_api_v2_spark.sources import tables

    ments = extract_and_detect(tables.docs_table(spark, SF_SMALL), dedup=True)
    keys = ments.select("label", "link_lang").distinct()
    probes = linking.probe_keys_df(keys)
    redirects = fixtures.redirects_df(spark)

    broadcast_best = linking.pick_best(linking.resolve_candidates(
        probes, redirects, fixtures.aliases_df(spark), fixtures.kb_pages_df(spark)))
    want = {(r["label"], r["link_lang"], r["title"], r["wikidata_id"])
            for r in broadcast_best.collect()}

    linking.save_kb_bucketed(spark)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        cands = linking.resolve_candidates_bucketed(probes, redirects, spark)
        got = {(r["label"], r["link_lang"], r["title"], r["wikidata_id"])
               for r in linking.pick_best(cands).collect()}
        assert got == want
        plan = _plan(cands)
        # every Exchange in the plan must sit on the probe lineage, never
        # directly above a bucketed table scan: walk the tree bottom-up —
        # the line after a bucketed Scan must not be fed through an Exchange
        # before its SortMergeJoin (bucketed side arrives pre-partitioned)
        assert "SortMergeJoin" in plan
        for tbl in ("kb_aliases_b", "kb_pages_b"):
            scan_ids = [ln.split(")")[0].strip("( ")
                        for ln in plan.splitlines()
                        if ln.strip().startswith("(") and tbl in ln]
            assert scan_ids, f"no scan node for {tbl}\n{plan}"
            for sid in scan_ids:
                # formatted-plan detail: an Exchange whose Input cites the
                # scan's output would show as "Exchange hashpartitioning"
                # immediately above the scan in the tree; assert the tree
                # line above each bucketed scan is a Sort or Join, not an
                # Exchange
                tree = [ln for ln in plan.splitlines() if f"({sid})" in ln]
                above = plan.splitlines()[
                    max(0, plan.splitlines().index(tree[0]) - 1)]
                assert "Exchange" not in above, f"{tbl}: {above}"
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS kb_aliases_b")
        spark.sql("DROP TABLE IF EXISTS kb_pages_b")


def test_entity_cache_survives_session_restart():
    """Two sequential sessions: the second must rebuild the entity relation
    rather than receive persisted frames bound to the first (stopped)
    context — the id()-reuse hazard the WeakKeyDictionary cache removes.
    Subprocess-isolated so stopping sessions can't affect the shared
    fixture."""
    import subprocess
    import sys
    script = r"""
from entity_extractor_linker_api_v2_spark.plans import queries
from entity_extractor_linker_api_v2_spark.session import get_spark
s1 = get_spark(app_name="cache-a", master="local[4]", shuffle_partitions=4)
n1 = queries.QUERIES["q11_entities"](s1, "/root/testdata/sf0.001").count()
assert queries.entity_cache_populated(s1, "/root/testdata/sf0.001")
s1.stop()
s2 = get_spark(app_name="cache-b", master="local[4]", shuffle_partitions=4)
assert not queries.entity_cache_populated(s2, "/root/testdata/sf0.001"), \
    "fresh session must not inherit the stopped session's cache"
n2 = queries.QUERIES["q11_entities"](s2, "/root/testdata/sf0.001").count()
assert n1 == n2 > 0
s2.stop()
print("CACHE_OK")
"""
    proc = subprocess.run([sys.executable, "-c", script], capture_output=True,
                          text=True, timeout=600)
    assert "CACHE_OK" in proc.stdout, proc.stderr[-2000:]


def test_affected_components_state_prunes_before_aggregation(spark):
    """Round-7 fold read: the latest-wins HashAggregates must sit ABOVE
    broadcast semi-join filters of the raw delta scan — aggregating the
    affected slice only, never the full state (the pre-r7 fold aggregated
    and localCheckpointed the whole state every micro-batch)."""
    from pyspark.sql import functions as F

    from entity_extractor_linker_api_v2_spark.streaming.ingest import (
        affected_components_state)
    raw = (spark.createDataFrame(
        [(f"c{k:04d}m{j}", f"c{k:04d}m0") for k in range(50)
         for j in range(5)], "node string, comp string")
        .withColumn("batch_id", F.lit(0)))
    batch_nodes = spark.createDataFrame([("c0001m3",), ("znew",)],
                                        "node string")
    plan = _plan(affected_components_state(raw, batch_nodes))
    tree = plan.partition("\n\n(1)")[0]
    # touched/cand are localCheckpointed (their own probe plans executed
    # eagerly, appearing here as Scan ExistingRDD); the RETURNED plan shows
    # the final two semi-filters, both broadcast — a SortMergeJoin here
    # would Exchange the whole state scan
    assert tree.count("BroadcastHashJoin LeftSemi") >= 2
    assert "SortMergeJoin" not in tree and "ShuffledHashJoin" not in tree
    # the aggregate input is semi-filtered: the latest-wins aggregate
    # (HashAggregate or SortAggregate, max_by) sits ABOVE a LeftSemi in
    # the formatted tree
    lines = tree.splitlines()
    first_agg = next(i for i, ln in enumerate(lines) if "Aggregate" in ln)
    assert any("LeftSemi" in ln for ln in lines[first_agg:]), \
        "no semi-join below the first (outermost-listed) aggregate"
