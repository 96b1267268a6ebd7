"""End-to-end KG-construction pipeline (SURVEY §3.1 rebuild lifecycle).

docs → extract_text (pandas UDF) → detect_mentions (pandas UDF) → explode →
dedup/cap → link (alias join + priority window) → entities → triples/nodes/
stats.  Every former network boundary of the reference is a broadcast or
a shuffle here; the entity relation is materialized once per call, and
every output is derived from it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators import linking, mentions as M, stats as S, triples as T
from ..operators.extract import extract_text_udf, make_detect_mentions_udf
from ..sources import tables


def extract_stage(docs: DataFrame) -> DataFrame:
    """html:binary → text column (byte-identical to refsem.extract_text)."""
    return docs.withColumn("extracted_text", extract_text_udf("html"))


def split_stage(docs_with_text: DataFrame, threshold: int,
                overlap: int = 64, text_col: str = "extracted_text") -> DataFrame:
    """TEXT_SPLIT_THRESHOLD integration (ref settings.py:95-98 — declared
    but never consulted by the reference linker; implemented for real here):
    documents longer than `threshold` are chunked into fixed windows with
    `overlap` carry-over (overlap ≥ longest gazetteer surface, so no
    boundary-spanning mention is lost) BEFORE detection; each chunk carries
    its char offset so mention positions stay document-global.  Detection
    over chunks + min-pos dedup is EXACTLY whole-document first-occurrence
    semantics (pytest-asserted equivalence).  At 100 TB this bounds the
    Arrow batch row size — a 500 MB page cannot stall one python worker."""
    from pyspark.sql import functions as F

    from .. import fixtures
    # the docstring invariant, enforced: a mention spanning a chunk boundary
    # is only recovered if the overlap covers the longest gazetteer surface —
    # clamp rather than trust the caller (a future longer surface would
    # otherwise silently drop boundary mentions)
    longest = max(len(s) for s, _, _ in fixtures.GAZETTEER)
    overlap = max(overlap, longest)
    step = threshold - overlap
    assert step > 0, (
        f"split threshold {threshold} must exceed overlap {overlap} "
        f"(clamped to the longest gazetteer surface, {longest} chars)")
    starts = F.when(
        F.length(text_col) > threshold,
        F.sequence(F.lit(0), F.length(text_col) - 1, F.lit(step))
    ).otherwise(F.array(F.lit(0)))
    return (docs_with_text
            .select("url", "link_lang",
                    F.explode(starts).alias("chunk_off"),
                    F.col(text_col).alias("_t"))
            .select("url", "link_lang", "chunk_off",
                    F.substring(F.col("_t"), F.col("chunk_off") + 1,
                                threshold).alias(text_col)))


def mention_stage(docs_with_text: DataFrame, max_entities: int = 10,
                  allowed_types="auto", text_col: str = "extracted_text",
                  split_threshold: int | None = None) -> DataFrame:
    if split_threshold:
        docs_with_text = split_stage(docs_with_text, split_threshold,
                                     text_col=text_col)
    detect = make_detect_mentions_udf()
    with_m = docs_with_text.withColumn("mentions", detect(text_col))
    m = M.explode_mentions(with_m,
                           extra_cols=["chunk_off"] if split_threshold else None)
    if split_threshold:
        from pyspark.sql import functions as F
        # chunk-local → document-global positions; overlap duplicates keep
        # their minimum (= true first occurrence)
        m = (m.withColumn("pos", F.col("pos") + F.col("chunk_off"))
             .groupBy("url", "link_lang", "surface", "label", "type")
             .agg(F.min("pos").alias("pos")))
    m = M.filter_types(m, allowed_types)
    return M.dedup_and_cap(m, max_entities)


def run_pipeline_checkpointed(spark: SparkSession, sf_dir: str, root: str,
                              max_entities: int = 10,
                              force: bool = False) -> dict[str, "DataFrame"]:
    """Stage-checkpointed pipeline (north rule resumability): every stage is
    materialized as a snapshot (parquet + per-partition row manifest) keyed
    by its config hash; a rerun — e.g. after a mid-job failure at 10^12-page
    scale — reuses every stage whose manifest matches and recomputes only
    downstream of the first change.  Stage boundaries are the natural
    restart points: mentions (the expensive Python scan), entities, triples,
    nodes."""
    from .. import fixtures
    from ..operators.extract import extract_and_detect
    from ..sources.checkpoint import StageCheckpoint

    ck = StageCheckpoint(spark, root)
    cfg = {"sf_dir": sf_dir, "max_entities": max_entities,
           "gazetteer_n": len(fixtures.GAZETTEER), "kb_n": len(fixtures.KB_PAGES)}

    docs = tables.docs_table(spark, sf_dir)
    ments = ck.write("mentions",
                     extract_and_detect(docs, dedup=True, max_entities=max_entities),
                     {**cfg, "stage": "mentions"}, force=force)
    resolved = linking.resolve_label_universe(
        spark, [lbl for _, lbl, _ in fixtures.GAZETTEER])
    entities = ck.write("entities",
                        linking.link_mentions_precomputed(ments, resolved),
                        {**cfg, "stage": "entities"}, force=force)
    triples = ck.write("triples", T.emit_triples(entities),
                       {**cfg, "stage": "triples"}, force=force)
    nodes = ck.write("nodes", T.nodes_table(entities),
                     {**cfg, "stage": "nodes"}, force=force)
    from ..operators.canonicalize import canonical_entities
    canonical = ck.write("canonical", canonical_entities(entities),
                         {**cfg, "stage": "canonical"}, force=force)
    return {"mentions": ments, "entities": entities, "triples": triples,
            "nodes": nodes, "canonical": canonical, "checkpoint": ck}


def run_pipeline(spark: SparkSession, sf_dir: str, max_entities: int = 10,
                 use_html: bool = True,
                 fused: bool = False, mode: str = "extract",
                 split_threshold: int | None = None) -> dict[str, DataFrame]:
    """``pipeline_from_docs`` over the corpus at ``sf_dir``."""
    docs = tables.docs_table(spark, sf_dir, with_html=use_html)
    return pipeline_from_docs(spark, docs, max_entities=max_entities,
                              use_html=use_html, fused=fused,
                              mode=mode, split_threshold=split_threshold)


def fused_lineage(spark: SparkSession, docs: DataFrame, max_entities: int = 10,
                  resolved: DataFrame | None = None) -> tuple[DataFrame, DataFrame]:
    """The fused throughput path as lazy (mentions, entities) frames: one
    mapInPandas does html→text→mentions→per-doc dedup/cap (single Arrow
    round trip, no corpus shuffle), and the linking dimension is
    precomputed over the gazetteer label universe and broadcast — the
    corpus side is map-only.  ``pipeline_from_docs(fused=True)`` runs
    exactly this lineage; the plan audit explains it."""
    from .. import fixtures
    from ..operators.extract import extract_and_detect
    ments = extract_and_detect(docs, dedup=True, max_entities=max_entities)
    if resolved is None:
        resolved = linking.resolve_label_universe(
            spark, [lbl for _, lbl, _ in fixtures.GAZETTEER])
    return ments, linking.link_mentions_precomputed(ments, resolved)


def pipeline_from_docs(spark: SparkSession, docs: DataFrame, max_entities: int = 10,
                       use_html: bool = True,
                       fused: bool = False,
                       resolved: DataFrame | None = None,
                       mode: str = "extract",
                       split_threshold: int | None = None) -> dict[str, DataFrame]:
    """Every pipeline output, derived from one materialization of the
    entity relation.

    Each call runs its layers once, at call time: extraction, linking and
    the entity relation are computed into an eager ``localCheckpoint``,
    and triples, nodes and the four stats are lazy frames over that
    checkpoint, so writing the sinks and collecting the stats never re-run
    the scan, extraction or resolution.  The materialized rows last as
    long as the returned frames (Spark's ContextCleaner frees them once
    those are garbage).  A local checkpoint, not a ``persist``: the
    CacheManager matches a persist by plan, so a second call on the same
    corpus would silently reuse the first call's rows.  The fused branch
    checkpoints ``fused_lineage``'s entities itself; the composable and
    generate branches take ``linking.link_mentions``' checkpoint as it
    is.  On those branches the mentions are persisted only while that call
    builds the entities (they feed both the distinct-key probe and the
    join-back) and released before returning; the returned ``mentions``
    frame is lazy."""
    if mode not in ("extract", "generate"):
        raise ValueError(f"Unknown mode: {mode}")  # ref linker.py:135-137
    if fused and use_html and mode == "extract":
        # the composable two-UDF path below is the stage-inspectable
        # default and the oracle-parity surface; equivalence is
        # pytest-asserted
        ments, entities = fused_lineage(spark, docs, max_entities, resolved)
        entities = entities.localCheckpoint()
    else:
        if mode == "generate":
            # mode="generate" (ref linker.py:128-135 -> generate_entities):
            # the mention stage proposes RELATED KB titles instead of text
            # spans; every downstream stage is shared with extract mode.
            from ..operators.generate import generate_mentions
            if use_html:
                gdocs = extract_stage(docs).withColumnRenamed(
                    "extracted_text", "gen_text")
                ments = generate_mentions(gdocs, max_entities=max_entities,
                                          text_col="gen_text")
            else:
                ments = generate_mentions(docs, max_entities=max_entities,
                                          text_col="body_text")
        else:
            if use_html:
                docs = extract_stage(docs)
                text_col = "extracted_text"
            else:
                text_col = "body_text"
            ments = mention_stage(docs, max_entities=max_entities,
                                  text_col=text_col,
                                  split_threshold=split_threshold)
        ments = ments.persist()
        entities = linking.link_mentions(spark, ments)
        ments.unpersist()
    return {
        "docs": docs,
        "mentions": ments,
        "entities": entities,
        "triples": T.emit_triples(entities),
        "nodes": T.nodes_table(entities),
        "types_distribution": S.types_distribution(entities),
        "top10_categories": S.top10(entities, "categories"),
        "linked_stats": S.linked_stats(entities),
        "extraction_stats": S.extraction_stats(entities),
    }
