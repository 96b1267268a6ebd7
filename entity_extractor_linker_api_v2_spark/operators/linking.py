"""Entity linking: the reference's sequential per-entity fallback chain
re-expressed as one alias-expansion join + one priority window.

Reference semantics being reproduced (file:line into /root/reference):
  * fallback chain order (strategies.py:168-225):
      direct(lang) → direct('de') [en only] → name variations(lang) →
      capitalization variants(lang)  — the variant probes are a subset of the
      variations, so the whole chain collapses to an ordered probe list:
      priority 0 = identity/lang, 1 = identity/'de', 2+i = variation i.
  * per-probe redirect resolution (service.py:190-199, client.py:237-243)
  * page-completeness gate (strategies.py:20-24): a candidate only wins if
    (title) and (abstract) are present.
  * first-complete-hit-wins = row_number over (mention) ordered by priority
    (O-17/O-27).
  * output projection + prompt-data enhancement + DBpedia finalization
    (data_processor.py:178-343; linker.py:149-214).

Scale design: the mention side is first reduced to DISTINCT (label, lang)
keys (O-30 fetch-once — this also collapses head-entity skew: distinct keys
are unique), the redirect/alias/KB dimensions are broadcast, and the
resolved pages are joined back to the mention fact table by one broadcast
equi-join on (label, link_lang) (``link_mentions_precomputed``); a
non-broadcast plan of that join is left to AQE's skew-join split.
``link_mentions`` materializes that join-back, projected to entity records,
once per call: its consumers read one checkpoint, and the resolution is
not materialized on its own.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .. import fixtures
from ..fixtures import aliases_df, kb_pages_df, redirects_df
from ..session import local_table


def _variations_sql(x: str = "label") -> str:
    """Ordered name-variation candidates of column ``x`` as one SQL
    ``array(...)`` (must mirror refsem.name_variations); inapplicable
    candidates are NULL and filtered by the caller.  Pytest asserts the
    filtered, deduped array equals refsem.name_variations on the
    tricky-name set (tests/test_operators.py)."""
    from ..functions.textfns import title_case_sql
    art = ("CASE WHEN startswith({x}, '{a} ') THEN substring({x}, 5) END"
           .format)
    return ("array(" + title_case_sql(x)
            + ", lower(" + x + "), upper(" + x + "), "
            + art(x=x, a="Der") + ", " + art(x=x, a="Die") + ", "
            + art(x=x, a="Das") + ", "
            + "replace(" + x + ", 'ß', 'ss'), "
            + "replace(" + x + ", 'ä', 'ae'), "
            + "replace(" + x + ", 'ö', 'oe'), "
            + "replace(" + x + ", 'ü', 'ue'))")


def probe_keys_df(mention_keys: DataFrame) -> DataFrame:
    """distinct (label, link_lang) → (label, link_lang, probe, probe_lang, prio).

    prio 0: identity in link_lang; prio 1: identity in 'de' (only when
    link_lang ≠ 'de', strategies.py:197-204); prio 2+i: i-th de-duplicated
    name variation in link_lang (order-preserving dedup, original excluded,
    strategies.py:227-258).
    """
    # selectExpr batches + the SQL-text variation array (round 8): identical
    # expression trees to the old Column formulation in a handful of py4j
    # round trips instead of ~200 (guide §1.2 — probe construction is
    # per-call fixed work inside the bench timer)
    identity = mention_keys.selectExpr(
        "label", "link_lang", "label AS probe",
        "link_lang AS probe_lang", "0 AS prio")
    lang_fb = (mention_keys.where("link_lang != 'de'")
               .selectExpr("label", "link_lang", "label AS probe",
                           "'de' AS probe_lang", "1 AS prio"))
    vars_ = (
        mention_keys
        .selectExpr("label", "link_lang",
                    "array_distinct(filter(" + _variations_sql("label")
                    + ", v -> v IS NOT NULL AND v != label)) AS _vars")
        .select("label", "link_lang", F.posexplode("_vars").alias("_pos", "probe"))
        .selectExpr("label", "link_lang", "probe",
                    "link_lang AS probe_lang", "_pos + 2 AS prio")
    )
    return identity.unionByName(lang_fb).unionByName(vars_)


def resolve_candidates(probes: DataFrame,
                       redirects: DataFrame,
                       aliases: DataFrame,
                       kb: DataFrame) -> DataFrame:
    """probe keys → complete KB candidate pages, best-first.

    redirect coalesce (O-14) → alias-dictionary lookup (O-18, broadcast) →
    KB page join (O-15) → completeness gate (O-11).  All dimension joins are
    broadcast: zero shuffle on the probe side.
    """
    # expr-string join conditions + one projection per step (round 8):
    # identical joins/columns to the old Column formulation (same EqualTo
    # trees, same output order) in ~4x fewer py4j round trips — this runs
    # inside the bench timer on every cold q07-q11 call (guide §1.2).
    # Renaming k.title -> k_title makes every condition name-unambiguous so
    # it can be ONE parsed string; the rename is dropped after the join
    # exactly where the old code dropped k["title"].
    r = F.broadcast(redirects.withColumnRenamed("lang", "r_lang"))
    a = F.broadcast(aliases.withColumnRenamed("lang", "a_lang"))
    k = F.broadcast(kb.withColumnRenamed("lang", "k_lang")
                    .withColumnRenamed("title", "k_title"))
    return (
        probes
        .join(r, F.expr("probe = from_title AND probe_lang = r_lang"), "left")
        .selectExpr("label", "link_lang", "probe", "probe_lang", "prio",
                    "coalesce(to_title, probe) AS resolved")
        .join(a, F.expr("resolved = alias AND probe_lang = a_lang"), "inner")
        .drop("alias", "a_lang")
        .join(k, F.expr("title = k_title AND probe_lang = k_lang"), "inner")
        .drop("k_title", "k_lang")
        .where("abstract IS NOT NULL AND abstract != ''")
    )


def save_kb_bucketed(spark, aliases: DataFrame | None = None,
                     kb: DataFrame | None = None, prefix: str = "kb",
                     buckets: int = 8, path: str | None = None) -> None:
    """Ingest-time half of the beyond-broadcast linking regime: persist the
    alias dictionary bucketed on its join key (alias, lang) and the KB page
    table bucketed on (title, lang).  Paid once; every subsequent linking
    job joins against them without ever shuffling the dimension."""
    from ..sources.bucketed import save_bucketed
    save_bucketed(aliases if aliases is not None else aliases_df(spark),
                  f"{prefix}_aliases_b", ["alias", "lang"], buckets=buckets,
                  path=None if path is None else f"{path}/aliases_b")
    save_bucketed(kb if kb is not None else kb_pages_df(spark),
                  f"{prefix}_pages_b", ["title", "lang"], buckets=buckets,
                  path=None if path is None else f"{path}/pages_b")


def resolve_candidates_bucketed(probes: DataFrame, redirects: DataFrame,
                                spark, prefix: str = "kb") -> DataFrame:
    """``resolve_candidates`` for dimensions past broadcast size: the alias
    and KB tables are read from their bucketed form (``save_kb_bucketed``),
    so each lookup shuffles ONLY the probe relation (distinct label keys —
    orders of magnitude smaller than a 10⁷-page KB) to the bucket layout;
    the dimension side scans in place with zero Exchange (plan-asserted).
    Redirects stay broadcast (they are title→title pairs, always small
    relative to the KB).  Output is column-identical to the broadcast path
    (equivalence pytest-asserted)."""
    a = spark.table(f"{prefix}_aliases_b")
    k = spark.table(f"{prefix}_pages_b")
    r = F.broadcast(redirects.withColumnRenamed("lang", "r_lang"))
    resolved = (
        probes
        .join(r, (probes.probe == r.from_title) & (probes.probe_lang == r.r_lang), "left")
        .withColumn("resolved", F.coalesce(F.col("to_title"), F.col("probe")))
        .drop("from_title", "to_title", "r_lang"))
    # join keys use the bucketed tables' OWN (un-renamed) attributes: a
    # rename is a Project with a fresh attribute id, which breaks the scan's
    # outputPartitioning match and silently re-shuffles the dimension
    step1 = (resolved
             .join(a, (resolved.resolved == a["alias"])
                   & (resolved.probe_lang == a["lang"]), "inner")
             .drop(a["alias"]).drop(a["lang"]))
    out = (step1
           .join(k, (step1.title == k["title"]) & (step1.probe_lang == k["lang"]), "inner")
           .drop(k["title"]).drop(k["lang"])
           .filter(F.col("abstract").isNotNull() & (F.col("abstract") != "")))
    return out


def pick_best(candidates: DataFrame) -> DataFrame:
    """O-17/O-27: first-complete-hit-wins via one window; deterministic ties.
    The window is one parsed OVER expression (same tree as the Column
    formulation, ~10x fewer py4j round trips — guide §1.2)."""
    return (candidates
            .selectExpr("*", "row_number() OVER (PARTITION BY label, link_lang "
                             "ORDER BY prio, alias_prio, title) AS _rn")
            .where("_rn = 1")
            .drop("_rn", "probe", "resolved", "prio", "alias_prio")
            .withColumnRenamed("probe_lang", "hit_lang"))


def to_entities(joined: DataFrame) -> DataFrame:
    """Project joined mention×page rows into the final entity record.

    Reproduces format_wiki_page (data_processor.py:178-205), the prompt-data
    enhancement (:232-295 — prompt metadata is {label_de: mention label},
    linker.py:66-71), finalize_dbpedia_uri (:297-343) and the linked-status
    rule (linker.py:164-167), as one select of coalesce/when chains.
    """
    title_de = "CASE WHEN probe_lang2 = 'de' THEN title ELSE title_other END"
    title_en = "CASE WHEN probe_lang2 = 'en' THEN title ELSE title_other END"

    def wiki_url_sql(title, lang):
        return (f"CASE WHEN {title} IS NOT NULL AND {title} != '' THEN "
                f"concat('https://{lang}.wikipedia.org/wiki/', "
                f"regexp_replace({title}, ' ', '_')) ELSE '' END")

    # two selectExpr batches (the second depends on probe_lang2): each is
    # ONE py4j round-trip + one analysis pass — the old withColumn chain
    # paid both per derived column, pure plan-build time inside the bench
    # timer
    d = (joined
         .selectExpr("*", "CASE WHEN title IS NOT NULL THEN hit_lang END "
                          "AS probe_lang2")
         .selectExpr(
             "*",
             f"coalesce({title_de}, '') AS label_de0",
             f"coalesce({title_en}, '') AS label_en",
             f"{wiki_url_sql(title_de, 'de')} AS url_de0",
             f"{wiki_url_sql(title_en, 'en')} AS url_en0",
             "CASE WHEN title IS NOT NULL THEN 'found' ELSE 'not_found' END "
             "AS wiki_status0"))

    # The final projection is ONE parsed selectExpr (round 8): the Column
    # formulation issued ~250 py4j round-trips of pure plan-build time per
    # call (~0.3 s inside the bench timer); the SQL strings below parse to
    # the IDENTICAL expression trees (each f-string inlines its
    # sub-expressions exactly where the old Python variables were inlined),
    # and the driver/oracle hash gate pins the values.
    found_sql = "title IS NOT NULL"
    label_de = "CASE WHEN label_de0 = '' THEN label ELSE label_de0 END"
    gen_url_de = ("concat('https://de.wikipedia.org/wiki/', "
                  f"regexp_replace({label_de}, ' ', '_'))")
    url_de = f"CASE WHEN url_de0 = '' THEN {gen_url_de} ELSE url_de0 END"
    wiki_status = ("CASE WHEN url_de0 = '' AND wiki_status0 = 'not_found' "
                   "THEN 'found_from_prompt' ELSE wiki_status0 END")
    url_en = ("CASE WHEN url_en0 = '' AND label_en != '' THEN "
              "concat('https://en.wikipedia.org/wiki/', "
              "regexp_replace(label_en, ' ', '_')) ELSE url_en0 END")
    dbpedia = (
        "CASE WHEN trim(label_en) != '' THEN "
        "concat('http://dbpedia.org/resource/', "
        "regexp_replace(trim(label_en), ' ', '_')) "
        f"WHEN contains({url_en}, 'en.wikipedia.org/wiki/') THEN "
        "concat('http://dbpedia.org/resource/', "
        f"element_at(split({url_en}, 'en\\\\.wikipedia\\\\.org/wiki/'), -1)) "
        "ELSE '' END")
    wikidata = (f"CASE WHEN {found_sql} THEN coalesce(wikidata_id, '') "
                "ELSE '' END")
    status = (f"CASE WHEN {wiki_status} IN ('found', 'found_from_prompt') "
              f"AND {wikidata} != '' THEN 'linked' ELSE 'not_linked' END")

    empty_arr = "cast(array() as array<string>)"

    def found_arr(c):
        return (f"CASE WHEN {found_sql} THEN coalesce({c}, {empty_arr}) "
                f"ELSE {empty_arr} END AS {c}")

    return d.selectExpr(
        "url", "link_lang", "label", "type", "pos", "mention_idx",
        f"{label_de} AS label_de",
        "label_en",
        f"{url_de} AS url_de",
        f"{url_en} AS url_en",
        f"CASE WHEN {found_sql} THEN coalesce(abstract, '') ELSE '' END AS extract",
        f"{wikidata} AS wikidata_id",
        f"CASE WHEN {found_sql} THEN coalesce(thumbnail_url, '') ELSE '' END AS thumbnail_url",
        f"CASE WHEN {found_sql} THEN coalesce(infobox_type, '') ELSE '' END AS infobox_type",
        f"CASE WHEN {found_sql} THEN geo_lat END AS geo_lat",
        f"CASE WHEN {found_sql} THEN geo_lon END AS geo_lon",
        found_arr("categories"),
        found_arr("internal_links"),
        found_arr("instance_of"),
        found_arr("subclass_of"),
        found_arr("part_of"),
        found_arr("has_part"),
        f"{dbpedia} AS dbpedia_uri",
        f"{wiki_status} AS wiki_status",
        f"{status} AS status",
        "sha2(concat(url, label), 256) AS entity_id",
    )


def resolve_keys(spark, keys: DataFrame,
                 redirects: DataFrame | None = None,
                 aliases: DataFrame | None = None,
                 kb: DataFrame | None = None) -> DataFrame:
    """Lazy fallback-chain resolution of distinct (label, link_lang) keys
    (probes → redirects → aliases → KB → priority pick), against the
    fixture dimensions unless given: one row per key that resolves, with
    hit_lang + page columns (the shape of ``pick_best``)."""
    redirects = redirects if redirects is not None else redirects_df(spark)
    aliases = aliases if aliases is not None else aliases_df(spark)
    kb = kb if kb is not None else kb_pages_df(spark)
    return pick_best(resolve_candidates(probe_keys_df(keys), redirects, aliases, kb))


def resolve_label_universe(spark, labels: list[str],
                           redirects: DataFrame | None = None,
                           aliases: DataFrame | None = None,
                           kb: DataFrame | None = None) -> DataFrame:
    """Precompute the resolution dimension for a KNOWN label universe.

    When the extractor is dictionary-based (gazetteer), every possible
    mention label is known up front, so the entire fallback-chain resolution
    (probes → redirects → aliases → KB → priority pick) is computed ONCE over
    |labels|×2 keys and broadcast — the corpus never shuffles for linking.
    For open-vocabulary extractors use ``link_mentions`` (corpus-distinct
    keys) instead.  Output: one row per (label, link_lang) that resolves,
    with hit_lang + page columns (same shape as ``pick_best``).

    The key frame, like the fixture dimensions it is resolved against by
    default, is a ``LocalRelation`` built by ``session.local_table``: the
    resolution's jobs read driver-side literals, not Python-parallelized
    RDD rows, and a warm call takes less than half as long.
    The resolution runs once, at call time, into an eager
    ``localCheckpoint``: every consumer of the returned frame (each output
    action of a pipeline, each micro-batch of a stream joining it) reads
    the materialized rows instead of re-running the probes, the three
    dimension joins and the priority window.  The rows live as long as the
    returned frame; Spark's ContextCleaner frees them once it is garbage.
    A local checkpoint, not a ``persist``: the CacheManager matches a
    persist by plan, so a second call would silently reuse the first
    call's rows."""
    keys = local_table(
        spark, [(lbl, lang) for lbl in sorted(set(labels)) for lang in ("de", "en")],
        "label string, link_lang string")
    return resolve_keys(spark, keys, redirects, aliases, kb).localCheckpoint()


def link_mentions_precomputed(mentions: DataFrame, resolved: DataFrame) -> DataFrame:
    """Linking via the precomputed resolution dimension: one broadcast join,
    zero shuffles on the mention side."""
    return to_entities(mentions.join(F.broadcast(resolved), ["label", "link_lang"], "left"))


def link_mentions(spark, mentions: DataFrame,
                  redirects: DataFrame | None = None,
                  aliases: DataFrame | None = None,
                  kb: DataFrame | None = None) -> DataFrame:
    """Full linking stage: mentions (url, link_lang, label, type, pos,
    mention_idx) → entity records.

    The entity relation is computed once, at call time, into an eager
    ``localCheckpoint`` that lasts as long as the returned frame: the
    distinct-key resolution is broadcast into the join-back of
    ``link_mentions_precomputed`` within that one materialization, and
    every action on the entities (each sink write, each stat) reads the
    checkpointed rows instead of re-running the resolution, the join and
    the entity projection.  It is a local checkpoint rather than a
    ``persist`` for the reason given in ``resolve_label_universe``; the
    keys cache it needs meanwhile is released before returning, so the
    call leaves the CacheManager as it found it."""
    # fetch-once (O-30): distinct keys are re-scanned by the three probe
    # branches — cache them (post-distinct this is the small side even at
    # corpus scale; at 10^12 pages it is exactly what the reference's
    # dedup-before-fetch achieved).
    keys = mentions.select("label", "link_lang").distinct().cache()
    entities = link_mentions_precomputed(
        mentions, resolve_keys(spark, keys, redirects, aliases, kb)).localCheckpoint()
    keys.unpersist()
    return entities
