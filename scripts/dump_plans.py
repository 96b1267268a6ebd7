#!/usr/bin/env python
"""Regenerate EXPLAIN.md: formatted physical plans for the scale-critical
queries, with the properties worth checking called out.  Run from repo root:
    python scripts/dump_plans.py
"""

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = "/root/testdata/sf0.001"

HEADER = """# EXPLAIN — physical plans of the scale-critical operators

Regenerate with `python scripts/dump_plans.py`.  What to check per plan is
annotated above each; `tests/test_plans.py` asserts these properties in CI.
"""


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    # keep the tree + first lines of detail; full detail is reproducible
    text = buf.getvalue()
    tree, _, rest = text.partition("\n\n(1)")
    return tree + "\n"


def main() -> None:
    from entity_extractor_linker_api_v2_spark.plans.pipeline import fused_lineage
    from entity_extractor_linker_api_v2_spark.plans.queries import QUERIES
    from entity_extractor_linker_api_v2_spark.session import get_spark
    from entity_extractor_linker_api_v2_spark.sources import tables

    spark = get_spark(master="local[4]", shuffle_partitions=4)
    sections = [HEADER]

    sections.append(
        "## Fused pipeline entities (map-only corpus side)\n\n"
        "Check: probe side is Scan → MapInPandas → BroadcastHashJoin with no\n"
        "Exchange; the 26-key dimension is resolved once per call into a\n"
        "local checkpoint, read here as the Scan ExistingRDD under the\n"
        "BroadcastExchange.  pipeline_from_docs(fused=True) checkpoints\n"
        "this lineage.\n\n"
        "```\n" + plan_of(fused_lineage(spark, tables.docs_table(spark, SF))[1])
        + "```\n")

    from entity_extractor_linker_api_v2_spark.operators.extract import (
        extract_and_detect)
    from entity_extractor_linker_api_v2_spark.operators.linking import (
        link_mentions_precomputed, resolve_keys)
    ments = extract_and_detect(tables.docs_table(spark, SF), dedup=True)
    keys = ments.select("label", "link_lang").distinct()
    sections.append(
        "## Linking (open-vocabulary relational path, q11)\n\n"
        "Check: every dimension join of the distinct-key resolution and the\n"
        "join-back of the mentions with the resolved keys are\n"
        "BroadcastHashJoins; no SortMergeJoin.  link_mentions checkpoints\n"
        "this lineage, its distinct keys cached, once per call; its\n"
        "consumers (q11 among them) read that checkpoint as a Scan\n"
        "ExistingRDD, so the lazy lineage is audited here.\n\n"
        "```\n" + plan_of(link_mentions_precomputed(
            ments, resolve_keys(spark, keys))) + "```\n")

    sections.append(
        "## MinHash signatures (q22)\n\n"
        "Check: pure JVM expressions (no Python nodes), no shuffle — the\n"
        "signature is per-row array math; only the LSH bucket join shuffles,\n"
        "and it shuffles 32-byte keys.\n\n"
        "```\n" + plan_of(QUERIES["q22_minhash_sig"](spark, SF)) + "```\n")

    sections.append(
        "## Brute-force cosine top-k (q28)\n\n"
        "Check: TakeOrderedAndProject (per-partition top-k + single reduce),\n"
        "aggregate expressions inside codegen.\n\n"
        "```\n" + plan_of(QUERIES["q28_ann_topk"](spark, SF)) + "```\n")

    sections.append(
        "## SimHash (q46, one-pass)\n\n"
        "Check: zero Exchange below the final projection, single aggregate\n"
        "traversal (md5 once per word) — all whole-stage-codegen'd.\n\n"
        "```\n" + plan_of(QUERIES["q46_simhash"](spark, SF)) + "```\n")

    sections.append(
        "## KB build (q44): filter → merge projection → langlinks self-join\n\n"
        "Check: one filter+project over the raw payload scan; the langlinks\n"
        "partner side is BroadcastHashJoin (shuffle-free here; an equi-join\n"
        "on unique (title, lang) at 10^7+ pages).\n\n"
        "```\n" + plan_of(QUERIES["q44_kb_build"](spark, SF)) + "```\n")

    sections.append(
        "## 8-key statistics top10 (q16)\n\n"
        "Check: ONE explode over per-entity (stat_key, item) pair arrays +\n"
        "one hash aggregate with map-side partials; the rank window\n"
        "partitions on stat_key (8 groups).\n\n"
        "```\n" + plan_of(QUERIES["q16_top10_all"](spark, SF)) + "```\n")

    sections.append(
        "## Jaccard verify on LSH candidates (q24, round-3 shape)\n\n"
        "Check: the expensive relations — candidate pairs (corpus-wide\n"
        "minhash chain) and the candidate-doc shingle relation — are eagerly\n"
        "materialized (localCheckpoint → `Scan ExistingRDD`) exactly once;\n"
        "the verify phase is pure broadcast hash joins + two small\n"
        "aggregates.  The shingle relation is built from the SEMI-JOINED\n"
        "candidate docs only (O(candidates), not O(corpus tokens)); the\n"
        "shingle-intersection join keys on (doc, shingle) — a hash join,\n"
        "never a filtered cross product.  At cluster scale these boundaries\n"
        "are StageCheckpoint parquet snapshots; the plan shape is identical.\n\n"
        "```\n" + plan_of(QUERIES["q24_jaccard_pairs"](spark, SF)) + "```\n")

    sections.append(
        "## Curation chain (q56): quality → exact dedup → near-dup removal\n\n"
        "Check: the final anti-join removes the larger id of every verified\n"
        "near-dup pair from the exact-dedup survivors; the survivors are ONE\n"
        "materialized relation (Scan ExistingRDD) feeding the LSH chain and\n"
        "the anti-join probe side — no recomputation of the upstream\n"
        "quality/window lineage per consumer.\n\n"
        "```\n" + plan_of(QUERIES["q33_curate"](spark, SF)) + "```\n")

    sections.append(
        "## Embedding near-dups, multi-table capped LSH (q30, round-3 shape)\n\n"
        "Check: one Generate (posexplode of per-table bucket strings) per\n"
        "side; the per-(table, bucket) membership cap runs as\n"
        "WindowGroupLimit partial + final sharing ONE Exchange on\n"
        "(table_id, bucket) — the same key the pair self-join uses; exact\n"
        "cosine happens only after the capped candidate join, via broadcast\n"
        "joins back to the embedding scan (vectors never ride through the\n"
        "bucket shuffle).\n\n"
        "```\n" + plan_of(QUERIES["q30_embed_near_dups"](spark, SF)) + "```\n")

    sections.append(
        "## K-means assignment (q51, round-4 shape)\n\n"
        "Check: the returned assignment plan is a pure Scan → Project — the\n"
        "per-row argmin over the k driver-collected centroids is ONE nested\n"
        "array literal traversed with zip_with (no crossJoin, no window, no\n"
        "Exchange).  The per-iteration centroid recompute (a separate job)\n"
        "is one HashAggregate with partial_avg per dimension (map-side\n"
        "combine) — NO posexplode of n×dim rows.\n\n"
        "```\n" + plan_of(QUERIES["q51_kmeans"](spark, SF)) + "```\n")

    sections.append(
        "## IVF coarse assignment (q49, round-4 shape)\n\n"
        "Check: Scan → Project only — centroids inlined as one matrix\n"
        "literal, argmax via array_min over (neg-dot, id) structs; the old\n"
        "n×K crossJoin + per-id window (a full corpus shuffle per call) is\n"
        "gone.  At 10^12 vectors this stage is embarrassingly parallel.\n\n"
        "```\n" + plan_of(QUERIES["q49_ivf_assign"](spark, SF)) + "```\n")

    from entity_extractor_linker_api_v2_spark.operators import similarity
    from entity_extractor_linker_api_v2_spark.sources import tables as _tables
    similarity.save_ivf_index(_tables.load(spark, SF, "embeddings"), "t_ivf_explain")
    try:
        probe = similarity.ivf_topk_indexed(spark, "t_ivf_explain", nprobe=3)
        buf = io.StringIO()
        with redirect_stdout(buf):
            probe.explain("formatted")
        full = buf.getvalue()
        bucket_lines = "\n".join(
            ln for ln in full.splitlines()
            if "SelectedBucketsCount" in ln or ln.startswith("Bucketed"))
        sections.append(
            "## Persisted IVF index probe (round-4)\n\n"
            "Check: Scan of the bucketed index table with SelectedBucketsCount\n"
            "< total (the IN-literal probe filter prunes buckets at the scan —\n"
            "a query reads ~nprobe/K of the files), then Project →\n"
            "TakeOrderedAndProject; zero Exchange, zero Join.\n\n"
            "```\n" + plan_of(probe) + bucket_lines + "\n```\n")
    finally:
        spark.sql("DROP TABLE IF EXISTS t_ivf_explain")
        spark.sql("DROP TABLE IF EXISTS t_ivf_explain_centroids")

    import shutil
    import tempfile
    from pyspark.sql import functions as F
    from entity_extractor_linker_api_v2_spark.streaming.ingest import neardup_fold
    tmp = tempfile.mkdtemp(prefix="eel_explain_hist_")
    try:
        docs = spark.read.parquet(f"{SF}/documents.parquet") \
            .select("doc_id", "text").limit(512)
        neardup_fold(spark, docs, 0, f"{tmp}/state", f"{tmp}/pairs")
        hist = spark.read.option("basePath", f"{tmp}/state/hist") \
            .parquet(f"{tmp}/state/hist")
        keys = [r["bkey"] for r in
                hist.select("bkey").distinct().limit(3).collect()]
        probe = hist.filter((F.col("batch_id") != 1)
                            & F.col("bkey").isin(keys))
        plan = probe._jdf.queryExecution().executedPlan().toString()
        part_line = next((ln for ln in plan.splitlines()
                          if "PartitionFilters" in ln),
                         "!! PRUNING MISSING — no PartitionFilters in the "
                         "executed plan; the history probe is NOT pruned")
        sections.append(
            "## Streaming near-dup history probe (round-5 fold)\n\n"
            "Check: the history side of `neardup_fold` is stored PRE-BANDED\n"
            "and partitioned by (batch_id, bkey); the per-batch probe filter\n"
            "appears under PartitionFilters on the Scan — pruned at the file\n"
            "listing, so per-batch history I/O is O(batch × membership), not\n"
            "O(history).  The batch_id≠self term is the replay guard.\n\n"
            "```\n" + plan_of(probe)
            + "Scan PartitionFilters (executed plan):\n"
            + part_line.strip()[:400] + "\n```\n")

        # fat-batch shape (round-6): above NEARDUP_INLIST_MAX distinct keys
        # the fold uses a semi-join instead of the IN-literal
        nb_keys = (docs.select(F.md5("text").alias("bkey")).distinct()
                   .limit(64))
        probe2 = hist.filter(F.col("batch_id") != 1) \
            .join(nb_keys, "bkey", "left_semi")
        plan2 = plan_of(probe2)
        join_line = next((ln.strip() for ln in plan2.splitlines()
                          if "Join" in ln),
                         "!! NO JOIN — semi-join probe did not plan a join")
        sections.append(
            "## Streaming near-dup history probe, FAT-batch shape (round-6)\n\n"
            "Check: above NEARDUP_INLIST_MAX (10k) distinct band keys the\n"
            "probe becomes `history LEFT SEMI JOIN batch_keys ON bkey` —\n"
            "no driver-collected key list, so a catch-up batch with millions\n"
            "of distinct keys cannot bloat one Filter expression (plan-\n"
            "compile hazard).  The batch key set is micro-batch-derived, so\n"
            "the planner broadcasts it; scan-level static pruning degrades\n"
            "to the (bounded, compacted) history scan + the replay-guard\n"
            "partition filter, which is the right trade above the threshold.\n"
            "Equivalence to the IN-literal shape is pytest-asserted\n"
            "(tests/test_streaming.py::"
            "test_neardup_fold_semijoin_probe_matches_inlist).\n\n"
            "```\n" + plan2 + "Join (executed plan): " + join_line[:300]
            + "\n```\n")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    tmp2 = tempfile.mkdtemp(prefix="eel_explain_merge_")
    try:
        from entity_extractor_linker_api_v2_spark.operators.canonicalize import (
            affected_members)
        (spark.createDataFrame(
            [(f"c{k:04d}m{j}", f"c{k:04d}m0")
             for k in range(200) for j in range(5)],
            "node string, comp string")
         .write.parquet(f"{tmp2}/comps"))
        comps = spark.read.parquet(f"{tmp2}/comps")
        batch_nodes = spark.createDataFrame([("c0000m4",), ("znew1",)],
                                            "node string")
        members = affected_members(comps, batch_nodes)
        sections.append(
            "## Incremental-CC affected-member probe (round-5 pruning)\n\n"
            "Check: both probes (batch node set, then affected comp-id set)\n"
            "are BroadcastHashJoin LeftSemi over a streamed scan of the\n"
            "component state — the state side carries no Exchange, and the\n"
            "downstream star-CC rounds iterate only over these rows, never\n"
            "the full state (BENCH.md: flat fold cost across 4× state).\n\n"
            "```\n" + plan_of(members) + "```\n")
        from entity_extractor_linker_api_v2_spark.streaming.ingest import (
            affected_components_state)
        raw = comps.withColumn("batch_id", F.lit(0))
        pruned = affected_components_state(raw, batch_nodes)
        sections.append(
            "## Streaming-fold pruned state read (round 7,"
            " affected_components_state)\n\n"
            "Check: the RAW delta scan is semi-join-filtered (broadcast)\n"
            "BEFORE each latest-wins HashAggregate — the aggregates run\n"
            "over the affected components' rows only, so the per-batch\n"
            "fold never shuffles or materializes the full state (pre-r7\n"
            "the fold localCheckpointed the full latest-wins view each\n"
            "batch; state-axis evidence: STATE_SCALE.json).\n\n"
            "```\n" + plan_of(pruned) + "```\n")
    finally:
        shutil.rmtree(tmp2, ignore_errors=True)

    from entity_extractor_linker_api_v2_spark.operators.canonicalize import (
        anchor_pairs, node_anchors)
    sections.append(
        "## Canonical entities (q19): anchor contraction\n\n"
        "Check: one Generate (explode of each row's {label, label_de,\n"
        "anchor} nodes), then three Exchanges and no join or loop: the\n"
        "distinct's on (anchor, node), the group-minimum Window's on\n"
        "anchor, the per-node aggregate's (bridge flag, min gm) on node.\n"
        "canonical_entities materializes the pairs and this aggregate\n"
        "(localCheckpoint); star CC runs only when some node is a bridge\n"
        "(none at SF_SMALL).\n\n"
        "```\n" + plan_of(node_anchors(anchor_pairs(
            QUERIES["q11_entities"](spark, SF)))) + "```\n")

    sections.append(
        "## Closest-level enrich (q13, round-4 shape)\n\n"
        "Check: single Project — the levels list is a literal array of\n"
        "(match_type, level_idx) structs and array_min takes the priority\n"
        "argmin per row; no crossJoin, no window, no join-back.\n\n"
        "```\n" + plan_of(QUERIES["q13_closest_level"](spark, SF)) + "```\n")

    with open(os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "EXPLAIN.md"), "w") as f:
        f.write("\n".join(sections))
    print("wrote EXPLAIN.md")
    spark.stop()


if __name__ == "__main__":
    main()
