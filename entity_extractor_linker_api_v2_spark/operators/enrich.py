"""Enrichment operators: closest-level match, synonym expansion, translation.

Corpus-scale rebuilds of three row-level reference utilities:

  * ``closest_level_match`` — O-42 (ref app/core/qa.py:387-403 /
    refsem.closest_level): exact case-insensitive match over the valid
    levels in declaration order, then bidirectional-substring match in the
    same order, else the first valid level.  The levels list is a static
    literal, so the argmin is a pure per-row array expression
    (``array_min`` over (match_type, level_idx) structs built from
    literals) — zero shuffles, no join-back, whole-stage-codegen friendly.
  * ``synonym_expand`` — ref app/core/utils.py:142-165 fallback dict
    (functions.generation.SIMPLE_SYNONYMS): broadcast dictionary
    explode-join; unknown words produce zero rows, matching the
    reference's [] fallback.
  * ``translate_column`` — ref app/core/utils.py:166-205 no-backend
    fallback: the exact "[{lang} translation of]: {text}" template as a
    native concat (a model-backed Generator drops in via
    functions.generation without touching this plan).

All three are map-side (broadcast dims only) — zero corpus shuffles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import local_table


def closest_level_match(df: DataFrame, provided_col: str, levels: list[str],
                        id_col: str = "doc_id") -> DataFrame:
    """Append ``matched_level``: the reference's closest-match rule over
    `levels` (order-significant).  match_type 0 = exact (case-insensitive),
    1 = substring either direction; ties break on level order; no match →
    levels[0].

    Map-side: the candidate (match_type, level_idx) structs are built from
    the literal levels list per row and ``array_min`` takes the priority
    argmin (struct comparison is field-order lexicographic), so the plan is
    a single Project — no Exchange, no join-back.  `id_col` is accepted for
    signature compatibility but no longer needed (no window key)."""
    p = F.lower(F.col(provided_col))
    cands = F.array(*[
        F.struct(
            F.when(F.lower(F.lit(lvl)) == p, F.lit(0))
             .when((F.instr(F.lower(F.lit(lvl)), p) > 0)
                   | (F.instr(p, F.lower(F.lit(lvl))) > 0), F.lit(1))
             .otherwise(F.lit(2)).alias("match_type"),
            F.lit(i).alias("level_idx"),
            F.lit(lvl).alias("level"))
        for i, lvl in enumerate(levels)])
    valid = F.filter(cands, lambda c: c.match_type < 2)
    return df.withColumn(
        "matched_level",
        F.coalesce(F.array_min(valid).level, F.lit(levels[0])))


def synonym_dim(spark, synonyms: dict[str, list[str]] | None = None,
                max_synonyms: int = 5) -> DataFrame:
    """(word, syn_idx, synonym) dimension from the fallback dict — the
    broadcast side of the expansion join."""
    from ..functions.generation import SIMPLE_SYNONYMS
    d = synonyms if synonyms is not None else SIMPLE_SYNONYMS
    rows = [(w, i + 1, s)
            for w, syns in d.items() for i, s in enumerate(syns[:max_synonyms])]
    return local_table(spark, rows, "word string, syn_idx int, synonym string")


def synonym_expand(df: DataFrame, word_col: str,
                   synonyms: dict[str, list[str]] | None = None,
                   max_synonyms: int = 5) -> DataFrame:
    """One row per (input row, synonym); unknown words emit nothing
    (reference [] fallback).  The dictionary broadcasts — the corpus side
    never shuffles."""
    dim = synonym_dim(df.sparkSession, synonyms, max_synonyms)
    return df.join(F.broadcast(dim), df[word_col] == dim.word).drop("word")


def translate_column(df: DataFrame, text_col: str, target_lang_col) -> DataFrame:
    """Append ``translated`` via the reference's exact no-backend fallback
    template (utils.py:200)."""
    return df.withColumn(
        "translated",
        F.concat(F.lit("["), target_lang_col, F.lit(" translation of]: "),
                 F.col(text_col)))
