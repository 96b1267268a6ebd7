"""Statistics aggregations (O-20..O-23, O-28).

Reference computes per-request Counters (app/api/v1/linker.py:240-327); at
corpus scale these become global (or per-partition-key) groupBy aggregations:
  * types_distribution    — groupBy(type).count()            (O-21)
  * top-10 categories / internal links over exploded arrays  (O-22/O-28)
  * linked counts + percentages                              (O-20/O-23)
All partial-aggregated map-side by Catalyst; top-k is orderBy+limit (global
k=10 — at 10^12 scale this is a treeAggregate-style 2-level reduction Spark
performs automatically for limit-after-sort).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def types_distribution(entities: DataFrame) -> DataFrame:
    """One row per entity type, so bounded at any corpus size: sorting it
    in one partition needs no range exchange, which saves the sampling job
    and a shuffle job of a global sort."""
    return (entities.groupBy("type").agg(F.count("*").alias("cnt"))
            .coalesce(1).orderBy(F.desc("cnt"), "type"))


def top10(entities: DataFrame, array_col: str) -> DataFrame:
    """most_common(10) over an exploded array column; deterministic ties."""
    return (entities.select(F.explode(array_col).alias("item"))
            .groupBy("item").agg(F.count("*").alias("cnt"))
            .orderBy(F.desc("cnt"), "item").limit(10))


TOP10_KEYS = ("wikipedia_categories", "wikipedia_internal_links",
              "wikidata_instance_of", "wikidata_type", "wikidata_subclass_of",
              "wikidata_part_of", "wikidata_has_part", "predicates")


def top10_all(entities: DataFrame) -> DataFrame:
    """All EIGHT statistics top10 keys the reference's Statistics model
    declares (app/api/v1/linker.py:109-118; only two are ever populated
    there — the rebuild fills the wikidata_* keys from the KB claim columns
    and `predicates` from the emitted edge table).

    One pass: per entity build an array of (stat_key, item) pairs, explode
    once, aggregate, rank per key.  wikidata_type = first instance_of claim
    (the P31 head).  Scale: the single explode+groupBy shuffles (key, item)
    pairs — counts, never rows."""
    from . import triples as TR

    def tag(key, arr):
        return ("transform(" + arr + ", x -> named_struct("
                "'stat_key', '" + key + "', 'item', x))")

    # `predicates` items are derived PER ENTITY from the same triple-struct
    # array emit_triples explodes (triples are emitted 1:1 from entity
    # rows), so the whole 8-key relation is ONE explode over ONE scan of
    # the entity relation — the old shape unioned a second full triples
    # subtree over the same cached scan (guide §2.4: one pass, not two).
    # All of it is SQL text parsed in one round trip (round 8, guide §1.2 —
    # the lambda-built Column trees cost ~1700 py4j calls per q16 call).
    pairs = ", ".join([
        tag("wikipedia_categories", "categories"),
        tag("wikipedia_internal_links", "internal_links"),
        tag("wikidata_instance_of", "instance_of"),
        tag("wikidata_type", "slice(instance_of, 1, 1)"),
        tag("wikidata_subclass_of", "subclass_of"),
        tag("wikidata_part_of", "part_of"),
        tag("wikidata_has_part", "has_part"),
        "transform(" + TR.TRIPLE_STRUCTS_SQL + ", t -> named_struct("
        "'stat_key', 'predicates', 'item', t.pred))",
    ])
    ent_pairs = (entities
                 .selectExpr("explode(concat(" + pairs + ")) AS p")
                 .selectExpr("p.*"))
    return (ent_pairs
            .groupBy("stat_key", "item").agg(F.count("*").alias("cnt"))
            .selectExpr("*", "row_number() OVER (PARTITION BY stat_key "
                             "ORDER BY cnt DESC, item) AS rnk")
            .where("rnk <= 10")
            .select("stat_key", "item", "cnt", "rnk"))


_WIKI_1 = "CASE WHEN url_de != '' OR url_en != '' THEN 1 ELSE 0 END"
_WD_1 = "CASE WHEN wikidata_id != '' THEN 1 ELSE 0 END"


def linked_stats(entities: DataFrame) -> DataFrame:
    """total / wikipedia-linked / wikidata-linked counts and percents.

    Mirrors linker.py:307-324: wikipedia-linked iff url_de or url_en present,
    wikidata-linked iff wikidata_id non-empty.  Measures are parsed expr
    strings (round 8, guide §1.2 — same trees, ~10x fewer py4j calls)."""
    return entities.agg(
        F.expr("count(*) AS total_entities"),
        F.expr(f"sum({_WIKI_1}) AS linked_wikipedia"),
        F.expr(f"sum({_WD_1}) AS linked_wikidata"),
        # 100.0D: a bare 100.0 parses as DECIMAL in SQL text where the
        # Column form's python float was a DOUBLE — the D suffix pins the
        # identical double arithmetic and output type
        F.expr(f"round(sum({_WIKI_1}) * 100.0D / count(*), 4) "
               "AS wikipedia_percent"),
        F.expr(f"round(sum({_WD_1}) * 100.0D / count(*), 4) "
               "AS wikidata_percent"),
    )


def statistics_envelope(entities: DataFrame) -> DataFrame:
    """The complete one-row Statistics envelope of the reference's response
    model (app/api/v1/linker.py:104-124): total_entities,
    total_relationships (emitted KG edges), qa_pairs (one per
    extract-bearing entity, the /qa analog's cardinality — qa.py:224-233),
    plus the linked counts/percentages.  ONE aggregate over the entity
    relation (round 8): the emitted-edge count equals the SUM OF SIZES of
    the per-entity triple-struct arrays (explode of a non-null array
    contributes exactly its size, empties contribute 0), so the old second
    triples-subtree aggregate + crossJoin collapse into one more measure of
    the entity agg — one scan, zero joins (guide §2.4)."""
    from . import triples as TR
    return entities.agg(
        F.expr("count(*) AS total_entities"),
        F.expr("coalesce(sum(size(" + TR.TRIPLE_STRUCTS_SQL + ")), 0) "
               "AS total_relationships"),
        F.expr("sum(CASE WHEN extract != '' THEN 1 ELSE 0 END) AS qa_pairs"),
        F.expr(f"sum({_WIKI_1}) AS linked_wikipedia"),
        F.expr(f"sum({_WD_1}) AS linked_wikidata"),
        # 100.0D pins double (bare 100.0 would parse as DECIMAL)
        F.expr(f"round(sum({_WIKI_1}) * 100.0D / count(*), 4) "
               "AS wikipedia_percent"),
        F.expr(f"round(sum({_WD_1}) * 100.0D / count(*), 4) "
               "AS wikidata_percent"),
    ).select(
        "total_entities", "total_relationships", "qa_pairs",
        "linked_wikipedia", "linked_wikidata",
        "wikipedia_percent", "wikidata_percent")


def extraction_stats(entities: DataFrame) -> DataFrame:
    """O-20 counters per document: extracted / pages fetched / linked."""
    return (entities.groupBy("url").agg(
        F.count("*").alias("entities_extracted"),
        F.sum(F.when(F.col("wiki_status").isin("found", "found_from_prompt"), 1)
               .otherwise(0)).alias("wikipedia_pages_fetched"),
        F.sum(F.when(F.col("status") == "linked", 1).otherwise(0)).alias("entities_linked"),
    ))
