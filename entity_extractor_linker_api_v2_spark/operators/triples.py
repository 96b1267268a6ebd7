"""Triple emission + node materialization (O-29 note / SURVEY §7.4 M4).

The reference declares but never populates `relationships`
(app/api/v1/linker.py:132); its statistics schema names the intended
predicates (linker.py:109-118).  The rebuild makes the edges table a
first-class deterministic output: for each entity record emitted by the
linking stage we produce

    (url, subj, pred, obj) with pred ∈, in this order per entity,
      instance_of   — always, obj = entity type
      same_as       — when wikidata_id present / when dbpedia_uri present
      has_category  — one per category (O-39 prefix-stripped at KB build)
      links_to      — one per internal link
      part_of       — one per part_of entry
      has_part      — one per has_part entry
      located_at    — when geo present, obj = "lat,lon"

subj is the canonical German label (label_de, always non-empty after the
prompt-data enhancement).  All emission is native explode/union — no UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

PREDICATES = ("instance_of", "same_as", "has_category", "links_to",
              "located_at", "part_of", "has_part")


# Per-entity array<struct<pred,obj>> of the emitted edges, as ONE parsed SQL
# expression — the shared construction behind ``emit_triples`` (which
# explodes it) and stats.top10_all's `predicates` key (which rewraps it per
# entity, so the 8-key stats query reads the entity relation ONCE instead of
# unioning a second triples subtree over the same scan).  One py4j round
# trip: a lambda-built Column version issued ~600 calls of pure
# plan-construction time per use (guide §1.2).  A pure-Python build of the
# rules above is pytest-asserted against it.
_EMPTY_PO = "cast(array() as array<struct<pred:string,obj:string>>)"
_PO = "named_struct('pred', '{p}', 'obj', {o})".format
TRIPLE_STRUCTS_SQL = (
    "concat("
    "array(" + _PO(p="instance_of", o="type") + "), "
    "CASE WHEN wikidata_id != '' THEN array("
    + _PO(p="same_as", o="wikidata_id") + ") ELSE " + _EMPTY_PO + " END, "
    "CASE WHEN dbpedia_uri != '' THEN array("
    + _PO(p="same_as", o="dbpedia_uri") + ") ELSE " + _EMPTY_PO + " END, "
    "transform(categories, c -> " + _PO(p="has_category", o="c") + "), "
    "transform(internal_links, x -> " + _PO(p="links_to", o="x") + "), "
    "transform(part_of, x -> " + _PO(p="part_of", o="x") + "), "
    "transform(has_part, x -> " + _PO(p="has_part", o="x") + "), "
    "CASE WHEN geo_lat IS NOT NULL AND geo_lon IS NOT NULL THEN array("
    + _PO(p="located_at", o="concat(cast(geo_lat as string), ',', "
                            "cast(geo_lon as string))")
    + ") ELSE " + _EMPTY_PO + " END)")


def emit_triples(entities: DataFrame) -> DataFrame:
    """Single-pass emission: per entity build an array<struct<pred,obj>> and
    explode once.  (A 6-way union of filtered selects would re-scan — and at
    100 TB re-COMPUTE — the entity table six times; this is one scan.)"""
    return (entities
            .selectExpr("url", "label_de AS subj",
                        "explode(" + TRIPLE_STRUCTS_SQL + ") AS t")
            .selectExpr("url", "subj", "t.pred AS pred", "t.obj AS obj"))


def nodes_table(entities: DataFrame) -> DataFrame:
    """Materialized nodes: one row per (canonical subject, wikidata_id) with
    aggregated provenance counts.  Array blobs are kept on the entity table;
    nodes carry the flat identity/linking columns (Entity, app/models/entity.py)."""
    return (entities
            .groupBy("label_de", "label_en", "wikidata_id", "dbpedia_uri",
                     "url_de", "url_en", "infobox_type", "status")
            .agg(F.count("*").alias("n_mentions"),
                 F.countDistinct("url").alias("n_docs"),
                 F.min("entity_id").alias("node_id"),
                 F.min("type").alias("type"))
            .withColumnRenamed("label_de", "subj"))
