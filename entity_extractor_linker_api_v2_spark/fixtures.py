"""Deterministic KB / gazetteer / corpus-derivation fixtures.

The rebuild replaces the reference's live Wikipedia API (O-2..O-4) with a
cached KB dimension table.  All fixture entities anchor the reference's own
test suite (see FIXTURES.md; citations: /root/reference/tests/test_linker.py:18-33,
tests/test_wikipedia_service.py:18-49, tests/test_wikipedia_fallbacks.py:84-370).

The same constants are rendered two ways:
  * `*_df(spark)`    — Spark DataFrames (broadcast dimension side), each a
                       ``LocalRelation`` built by ``session.local_table``: the
                       rows reach the JVM once, as Arrow batches, and the
                       frame carries a size estimate
  * `*_cte()`        — DuckDB SQL CTE text (driver oracle side)
so the driver's Spark-vs-DuckDB comparison exercises identical inputs.

Everything is seed-free and order-stable: pure literals + derivations.
"""

from __future__ import annotations

from . import refsem
from .session import local_table

# ---------------------------------------------------------------------------
# KB pages: one row per (title, lang).  14-field record shape follows the
# reference's format_wiki_page (data_processor.py:183-198).
# columns: title, lang, title_other, abstract, wikidata_id, categories,
#          internal_links, infobox_type, geo_lat, geo_lon, thumbnail_url
# ---------------------------------------------------------------------------

_K = ("title", "lang", "title_other", "abstract", "wikidata_id", "categories",
      "internal_links", "infobox_type", "geo_lat", "geo_lon", "thumbnail_url",
      "instance_of", "subclass_of", "part_of", "has_part")


def _kb(*vals):
    d = dict(zip(_K, vals))
    # wikidata claim arrays (the reference DECLARES these slots — Entity
    # has_part/part_of fields entity_helpers.py:23-25 and the statistics
    # top10 keys linker.py:109-118 — but never populates them; the rebuild
    # makes them first-class KB columns, filled per-title below).
    for c in ("instance_of", "subclass_of", "part_of", "has_part"):
        d.setdefault(c, [])
    return d


KB_PAGES: list[dict] = [
    _kb("Zugspitze", "de", "Zugspitze", "Die Zugspitze ist der höchste Berg Deutschlands.",
        "Q170230", ["Mountains of Germany"], ["Alpen", "Garmisch-Partenkirchen"],
        "mountain", 47.4, 11.0, "https://img.test/zugspitze.jpg"),
    _kb("Zugspitze", "en", "Zugspitze", "The Zugspitze is the highest peak of Germany.",
        "Q170230", ["Mountains of Germany"], ["Alps"], "mountain", 47.4, 11.0, None),
    _kb("Albert Einstein", "de", "Albert Einstein", "Albert Einstein war ein theoretischer Physiker.",
        "Q937", ["German physicists"], ["Physics", "Relativity"], "scientist", 52.5, 13.4,
        "https://img.test/einstein.jpg"),
    _kb("Albert Einstein", "en", "Albert Einstein", "Albert Einstein was a theoretical physicist.",
        "Q937", ["German physicists"], ["Physics", "Relativity"], "scientist", 52.5, 13.4, None),
    _kb("Berlin", "de", "Berlin", "Hauptstadt Deutschlands", "Q64",
        ["Stadt in Deutschland"], ["Brandenburg"], "city", 52.5, 13.4, None),
    _kb("Berlin", "en", "Berlin", "Capital of Germany", "Q64",
        ["Cities in Germany"], ["Brandenburg"], "city", 52.5, 13.4, None),
    _kb("Deutschland", "de", "Germany", "Land in Europa", "Q183",
        ["Staat in Europa"], ["Europa"], "country", 51.0, 10.0, None),
    _kb("Germany", "en", "Deutschland", "Country in Europe", "Q183",
        ["Countries in Europe"], ["Europe"], "country", 51.0, 10.0, None),
    _kb("München", "de", "Munich", "München ist die Landeshauptstadt Bayerns.", "Q1726",
        ["Stadt in Bayern"], ["Bayern"], "city", 48.1, 11.6, None),
    _kb("Munich", "en", "München", "Munich is the capital of Bavaria.", "Q1726",
        ["Cities in Bavaria"], ["Bavaria"], "city", 48.1, 11.6, None),
    _kb("Bundestag", "de", "Bundestag", "Der Bundestag ist das Parlament Deutschlands.", "Q154797",
        ["Parlament"], ["Reichstag"], "organization", None, None, None),
    _kb("Bundestag", "en", "Bundestag", "The Bundestag is the German federal parliament.", "Q154797",
        ["Parliaments"], ["Reichstag building"], "organization", None, None, None),
    _kb("Weiß", "de", "White", "Weiß ist die hellste Farbe.", "Q23444",
        ["Farbe"], ["Licht"], None, None, None, None),
    _kb("White", "en", "Weiß", "White is the lightest color.", "Q23444",
        ["Colors"], ["Light"], None, None, None, None),
    # incomplete page: abstract missing -> fails the completeness gate (O-11)
    _kb("Entity001", "de", None, None, "Q9001", [], [], None, None, None, None),
]

# deterministic filler pages (broadcast-side padding; complete)
for _i in range(2, 51):
    KB_PAGES.append(_kb(f"Entity{_i:03d}", "de", None,
                        f"Beschreibung von Entity{_i:03d}.", f"Q{9000 + _i}",
                        [f"Kategorie{_i % 5}"], [], None, None, None, None))

# per-title wikidata claims (applied to both language rows of a title pair);
# deterministic stand-ins for the P31/P279/P361/P527 claims the reference's
# Entity dataclass reserves fields for (entity_helpers.py:23-25).
KB_CLAIMS: dict[str, dict[str, list[str]]] = {
    "Zugspitze": {"instance_of": ["mountain"], "part_of": ["Wettersteingebirge"]},
    "Albert Einstein": {"instance_of": ["human"]},
    "Berlin": {"instance_of": ["city", "capital"], "part_of": ["Deutschland"],
               "has_part": ["Berlin-Mitte"]},
    "Deutschland": {"instance_of": ["country"], "part_of": ["Europa"],
                    "has_part": ["Bayern", "Berlin"]},
    "Germany": {"instance_of": ["country"], "part_of": ["Europa"],
                "has_part": ["Bayern", "Berlin"]},
    "München": {"instance_of": ["city"], "part_of": ["Bayern"]},
    "Munich": {"instance_of": ["city"], "part_of": ["Bayern"]},
    "Bundestag": {"instance_of": ["parliament"], "subclass_of": ["legislature"],
                  "part_of": ["Bundesrepublik Deutschland"]},
    "Weiß": {"instance_of": ["color"], "subclass_of": ["Farbe"]},
    "White": {"instance_of": ["color"], "subclass_of": ["Farbe"]},
}

for _p in KB_PAGES:
    _p.update(KB_CLAIMS.get(_p["title"], {}))
    if _p["title"].startswith("Entity") and _p["abstract"]:
        _i = int(_p["title"][6:])
        _p["instance_of"] = ["concept"]
        _p["part_of"] = [f"Gruppe{_i % 3}"]

# (from_title, to_title, lang)  — O-14, ref client.py:237-243 / service.py:190-199
KB_REDIRECTS: list[tuple[str, str, str]] = [
    ("Einstein", "Albert Einstein", "de"),
    ("Einstein", "Albert Einstein", "en"),
    ("BRD", "Deutschland", "de"),
]

# (surface, label, type) — the deterministic extractor's dictionary; surfaces
# are matched by substring containment in the document text (mention label =
# the canonical surface label; genitive forms map to their lemma).
GAZETTEER: list[tuple[str, str, str]] = [
    ("Zugspitze", "Zugspitze", "LOCATION"),
    ("Deutschlands", "Deutschland", "LOCATION"),
    ("Deutschland", "Deutschland", "LOCATION"),
    ("Albert Einstein", "Albert Einstein", "PERSON"),
    ("Einstein", "Einstein", "PERSON"),
    ("Der Bundestag", "Der Bundestag", "ORGANIZATION"),
    ("Berlin", "Berlin", "LOCATION"),
    ("Muenchen", "Muenchen", "LOCATION"),
    ("MÜNCHEN", "MÜNCHEN", "LOCATION"),
    ("Weiß", "Weiß", "CONCEPT"),
    ("Entity001", "Entity001", "CONCEPT"),
    ("Phantasia", "Phantasia", "CONCEPT"),
    ("Germany", "Germany", "LOCATION"),
]

# Sentences injected into the synthetic corpus by doc_id % len(SENTENCES);
# together with SKEW_SENTENCE (appended when doc_id % 2 = 0 -> "Berlin" is a
# hot join key in ~50% of docs, the skew scenario of the north rule).
SENTENCES: list[str] = [
    "Die Zugspitze ist der höchste Berg Deutschlands.",
    "Albert Einstein wurde in Ulm geboren.",
    "Einstein entwickelte die Relativitätstheorie.",
    "Der Bundestag tagt in Berlin.",
    "Muenchen liegt in Bayern bei Ingolstadt.",
    "Die Farbe Weiß symbolisiert Reinheit.",
    "Deutschland ist ein Land in Europa.",
    "Entity001 ist ein Beispiel.",
    "Phantasia liegt bei Regensburg.",
    "Albert Einstein developed the theory of relativity.",
    "Berlin is the capital of Germany.",
    "MÜNCHEN ist eine Stadt in Deutschland.",
]

SKEW_SENTENCE = "Berlin ist die Hauptstadt."

DEFAULT_MAX_ENTITIES = 10  # ref app/api/v1/linker.py:19 (default 10, max 100)


# ---------------------------------------------------------------------------
# Derived alias dictionary (O-18 precomputed KB-side): for every KB title,
# identity (priority 0) + name variations in fallback-probe order (1..n).
# ---------------------------------------------------------------------------


def alias_rows() -> list[tuple[str, str, str, int]]:
    """(alias, title, lang, alias_prio); de-duplicated per (alias, lang) keeping
    the lowest priority, ties broken by title for determinism."""
    raw: list[tuple[str, str, str, int]] = []
    for page in KB_PAGES:
        t, lang = page["title"], page["lang"]
        raw.append((t, t, lang, 0))
        for i, v in enumerate(refsem.name_variations(t)):
            raw.append((v, t, lang, i + 1))
    raw.sort(key=lambda r: (r[0], r[2], r[3], r[1]))
    out: list[tuple[str, str, str, int]] = []
    seen: set[tuple[str, str]] = set()
    for alias, title, lang, prio in raw:
        if (alias, lang) not in seen:
            seen.add((alias, lang))
            out.append((alias, title, lang, prio))
    return out


# ---------------------------------------------------------------------------
# Spark-side constructors
# ---------------------------------------------------------------------------


def kb_pages_df(spark):
    return local_table(spark, [tuple(p[k] for k in _K) for p in KB_PAGES],
                       "title string, lang string, title_other string, "
                       "abstract string, wikidata_id string, "
                       "categories array<string>, internal_links array<string>, "
                       "infobox_type string, geo_lat double, geo_lon double, "
                       "thumbnail_url string, instance_of array<string>, "
                       "subclass_of array<string>, part_of array<string>, "
                       "has_part array<string>")


def redirects_df(spark):
    return local_table(spark, KB_REDIRECTS, "from_title string, to_title string, lang string")


def gazetteer_df(spark):
    return local_table(spark, GAZETTEER, "surface string, label string, type string")


def aliases_df(spark):
    return local_table(spark, alias_rows(), "alias string, title string, lang string, alias_prio int")


# ---------------------------------------------------------------------------
# DuckDB-side CTE renderers (oracle SQL).  Literal-only; no parameters.
# ---------------------------------------------------------------------------


def _q(s) -> str:
    if s is None:
        return "NULL"
    return "'" + str(s).replace("'", "''") + "'"


def _arr(xs) -> str:
    if xs is None:
        return "NULL"
    return "[" + ", ".join(_q(x) for x in xs) + "]"


def _num(x) -> str:
    return "NULL" if x is None else repr(float(x))


def kb_pages_cte() -> str:
    rows = ", ".join(
        "({}, {}, {}, {}, {}, {}, {}, {}, {}, {}, {}, {}, {}, {}, {})".format(
            _q(p["title"]), _q(p["lang"]), _q(p["title_other"]), _q(p["abstract"]),
            _q(p["wikidata_id"]), _arr(p["categories"]), _arr(p["internal_links"]),
            _q(p["infobox_type"]), _num(p["geo_lat"]), _num(p["geo_lon"]),
            _q(p["thumbnail_url"]), _arr(p["instance_of"]), _arr(p["subclass_of"]),
            _arr(p["part_of"]), _arr(p["has_part"]))
        for p in KB_PAGES)
    return ("kb(title, lang, title_other, abstract, wikidata_id, categories, "
            "internal_links, infobox_type, geo_lat, geo_lon, thumbnail_url, "
            f"instance_of, subclass_of, part_of, has_part) AS (VALUES {rows})")


def redirects_cte() -> str:
    rows = ", ".join(f"({_q(a)}, {_q(b)}, {_q(lang)})" for a, b, lang in KB_REDIRECTS)
    return f"redirects(from_title, to_title, lang) AS (VALUES {rows})"


def gazetteer_cte() -> str:
    rows = ", ".join(f"({_q(s)}, {_q(l)}, {_q(t)})" for s, l, t in GAZETTEER)
    return f"gaz(surface, label, type) AS (VALUES {rows})"


def aliases_cte() -> str:
    rows = ", ".join(f"({_q(a)}, {_q(t)}, {_q(lang)}, {p})" for a, t, lang, p in alias_rows())
    return f"aliases(alias, title, lang, alias_prio) AS (VALUES {rows})"


def scaled_kb_df(spark, n_pages: int = 200_000):
    """Programmatic large KB: the fixture pages plus n synthetic complete
    pages (titles `Synth Page {i}` — guaranteed disjoint from every gazetteer
    label and its variations), for demonstrating that the linking plan holds
    when the KB is 10^5–10^7 rows (still broadcastable; beyond that the same
    joins run as shuffle joins, tested via the forced-SMJ path)."""
    from pyspark.sql import functions as F
    fix = kb_pages_df(spark)
    synth = (spark.range(n_pages)
             .select(F.concat(F.lit("Synth Page "), F.col("id")).alias("title"),
                     F.when(F.col("id") % 2 == 0, F.lit("de")).otherwise(F.lit("en")).alias("lang"),
                     F.concat(F.lit("Synth Page "), F.col("id")).alias("title_other"),
                     F.concat(F.lit("Beschreibung der Seite "), F.col("id")).alias("abstract"),
                     F.concat(F.lit("Q"), (F.col("id") + 100000)).alias("wikidata_id"),
                     F.array(F.concat(F.lit("SynthKat"), F.col("id") % 100)).alias("categories"),
                     F.array().cast("array<string>").alias("internal_links"),
                     F.lit(None).cast("string").alias("infobox_type"),
                     F.lit(None).cast("double").alias("geo_lat"),
                     F.lit(None).cast("double").alias("geo_lon"),
                     F.lit(None).cast("string").alias("thumbnail_url"),
                     F.array(F.lit("concept")).alias("instance_of"),
                     F.array().cast("array<string>").alias("subclass_of"),
                     F.array(F.concat(F.lit("SynthGruppe"), F.col("id") % 3)).alias("part_of"),
                     F.array().cast("array<string>").alias("has_part")))
    return fix.unionByName(synth)


def scaled_aliases_df(spark, kb=None):
    """Alias dictionary derived from a (possibly large) KB with the same
    variation rules, computed as native columns instead of driver-side
    python — the KB-build-time job that replaces strategies.py:227-258."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F
    if kb is None:
        kb = scaled_kb_df(spark)
    from .functions.textfns import title_case
    t = F.col("title")
    cands = F.array(
        F.struct(t.alias("alias"), F.lit(0).alias("alias_prio")),
        F.struct(title_case(t).alias("alias"), F.lit(1).alias("alias_prio")),
        F.struct(F.lower(t).alias("alias"), F.lit(2).alias("alias_prio")),
        F.struct(F.upper(t).alias("alias"), F.lit(3).alias("alias_prio")),
        F.struct(F.when(t.startswith("Der "), F.expr("substring(title, 5)")).alias("alias"),
                 F.lit(4).alias("alias_prio")),
        F.struct(F.when(t.startswith("Die "), F.expr("substring(title, 5)")).alias("alias"),
                 F.lit(5).alias("alias_prio")),
        F.struct(F.when(t.startswith("Das "), F.expr("substring(title, 5)")).alias("alias"),
                 F.lit(6).alias("alias_prio")),
        F.struct(F.expr("replace(title, 'ß', 'ss')").alias("alias"), F.lit(7).alias("alias_prio")),
        F.struct(F.expr("replace(title, 'ä', 'ae')").alias("alias"), F.lit(8).alias("alias_prio")),
        F.struct(F.expr("replace(title, 'ö', 'oe')").alias("alias"), F.lit(9).alias("alias_prio")),
        F.struct(F.expr("replace(title, 'ü', 'ue')").alias("alias"), F.lit(10).alias("alias_prio")),
    )
    exploded = (kb.select("title", "lang", F.explode(cands).alias("c"))
                .select("title", "lang", F.col("c.alias").alias("alias"),
                        F.col("c.alias_prio").alias("alias_prio"))
                .filter(F.col("alias").isNotNull()))
    w = Window.partitionBy("alias", "lang").orderBy("alias_prio", "title")
    return (exploded.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1).drop("_rn"))


# ---------------------------------------------------------------------------
# Raw Wikipedia-API payload rows (input of operators.kb_build).  One row per
# fetched page, flattened from the API JSON the reference's client consumes
# (client.py:92-109 props: extracts+pageprops+categories+coordinates+
# langlinks+links+pageimages).  Derived from KB_PAGES so the build output is
# pytest-assertable against the hand-authored KB dimension; plus noise rows
# exercising the special-page filter (O-12, client.py:266-281).
# ---------------------------------------------------------------------------

_RAW_K = ("page_id", "lang", "title", "extract", "wikibase_item",
          "categories_raw", "links_raw", "coord_lat", "coord_lon",
          "thumbnail_source", "infobox", "langlink_lang", "langlink_title",
          "instance_of", "subclass_of", "part_of", "has_part")


def raw_page_rows() -> list[dict]:
    rows: list[dict] = []
    for i, p in enumerate(KB_PAGES):
        prefix = "Kategorie:" if p["lang"] == "de" else "Category:"
        rows.append({
            "page_id": 1000 + i,
            "lang": p["lang"],
            # every third title padded: merge_page_data strips (:26)
            "title": ("  " + p["title"] + " ") if i % 3 == 0 else p["title"],
            "extract": p["abstract"],
            "wikibase_item": p["wikidata_id"],
            "categories_raw": [prefix + c for c in (p["categories"] or [])],
            "links_raw": list(p["internal_links"] or []),
            "coord_lat": p["geo_lat"], "coord_lon": p["geo_lon"],
            "thumbnail_source": p["thumbnail_url"],
            "infobox": p["infobox_type"],
            "langlink_lang": ("en" if p["lang"] == "de" else "de")
                             if p["title_other"] else None,
            "langlink_title": p["title_other"],
            "instance_of": p["instance_of"], "subclass_of": p["subclass_of"],
            "part_of": p["part_of"], "has_part": p["has_part"],
        })
    empty = {"extract": None, "wikibase_item": None, "categories_raw": [],
             "links_raw": [], "coord_lat": None, "coord_lon": None,
             "thumbnail_source": None, "infobox": None, "langlink_lang": None,
             "langlink_title": None, "instance_of": [], "subclass_of": [],
             "part_of": [], "has_part": []}
    # O-12: negative page id = special page -> dropped
    rows.append({"page_id": -1, "lang": "de", "title": "Spezial:Suche", **empty})
    # missing / whitespace-only titles -> dropped
    rows.append({"page_id": 2000, "lang": "de", "title": None, **empty})
    rows.append({"page_id": 2001, "lang": "en", "title": "   ", **empty})
    # langlink to a page that was never fetched -> title_other stays NULL
    rows.append({"page_id": 2002, "lang": "de", "title": "Geisterseite",
                 **{**empty, "extract": "Eine Geisterseite.",
                    "langlink_lang": "en", "langlink_title": "Nonexistent Page"}})
    return rows


def raw_pages_df(spark):
    return local_table(spark, [tuple(r[k] for k in _RAW_K) for r in raw_page_rows()],
                       "page_id bigint, lang string, title string, extract string, "
                       "wikibase_item string, categories_raw array<string>, "
                       "links_raw array<string>, coord_lat double, coord_lon double, "
                       "thumbnail_source string, infobox string, langlink_lang string, "
                       "langlink_title string, instance_of array<string>, "
                       "subclass_of array<string>, part_of array<string>, "
                       "has_part array<string>")


def raw_pages_cte() -> str:
    def _row(r):
        return "({}, {}, {}, {}, {}, {}, {}, {}, {}, {}, {}, {}, {}, {}, {}, {}, {})".format(
            r["page_id"], _q(r["lang"]), _q(r["title"]), _q(r["extract"]),
            _q(r["wikibase_item"]), _arr(r["categories_raw"]), _arr(r["links_raw"]),
            _num(r["coord_lat"]), _num(r["coord_lon"]), _q(r["thumbnail_source"]),
            _q(r["infobox"]), _q(r["langlink_lang"]), _q(r["langlink_title"]),
            _arr(r["instance_of"]), _arr(r["subclass_of"]), _arr(r["part_of"]),
            _arr(r["has_part"]))
    rows = ", ".join(_row(r) for r in raw_page_rows())
    return f"raw_pages({', '.join(_RAW_K)}) AS (VALUES {rows})"


def sentences_case_sql(col: str = "doc_id") -> str:
    """CASE expression mapping doc_id % 12 to the injected sentence."""
    whens = " ".join(f"WHEN {i} THEN {_q(s)}" for i, s in enumerate(SENTENCES))
    return f"(CASE {col} % {len(SENTENCES)} {whens} END)"


# url doc-id zero-pad width — shared by the Spark side (tables.derive_docs),
# the DuckDB oracle (docs_cte below) and the python twin (tests/refpipe.py).
# 8 digits = ids < 10^8: wide enough for the 10M-page (sf1.0 x200) scale-step
# corpus; lpad TRUNCATES longer ids (silent url collisions), so
# tables.replicate_documents guards the bound.
URL_ID_DIGITS = 8


def docs_cte(documents_rel: str = "documents") -> str:
    """Derivation of the Common-Crawl-shaped corpus (url, warc_ts, body_text,
    lang, link_lang) from the driver's `documents` table — identical to
    sources.tables.docs_table on the Spark side."""
    return (
        f"docs AS (SELECT "
        f"'https://test.example/' || lang || '/doc' || lpad(CAST(doc_id AS VARCHAR), {URL_ID_DIGITS}, '0') AS url, "
        f"TIMESTAMP '2025-01-01 00:00:00' + to_minutes(doc_id) AS warc_ts, "
        f"text || ' ' || {sentences_case_sql()} || "
        f"(CASE WHEN doc_id % 2 = 0 THEN ' ' || {_q(SKEW_SENTENCE)} ELSE '' END) AS body_text, "
        f"lang, CASE WHEN lang = 'de' THEN 'de' ELSE 'en' END AS link_lang, doc_id "
        f"FROM {documents_rel})"
    )
