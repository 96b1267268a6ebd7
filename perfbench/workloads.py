"""The benchmark workloads: input generation, the timed job, output checks
and the traced (per-layer) job of each.

Every call goes through the package's public functions; nothing inside the
package is patched.  A job is one closed-loop unit of work: the next job
starts when the previous one has returned.
"""

from __future__ import annotations

import os
import statistics

import pyarrow.parquet as pq
from pyspark.sql import functions as F

import inputs
from entity_extractor_linker_api_v2_spark import fixtures
from entity_extractor_linker_api_v2_spark.operators import dedup, linking
from entity_extractor_linker_api_v2_spark.operators import stats as S
from entity_extractor_linker_api_v2_spark.operators import triples as T
from entity_extractor_linker_api_v2_spark.operators.canonicalize import (
    canonical_entities, entity_edges)
from entity_extractor_linker_api_v2_spark.operators.extract import (
    extract_and_detect)
from entity_extractor_linker_api_v2_spark.plans.pipeline import (
    pipeline_from_docs)
from entity_extractor_linker_api_v2_spark.sources import tables
from entity_extractor_linker_api_v2_spark.streaming.ingest import (
    canonicalize_fold, neardup_fold, read_components)

SINK = ("entities", "triples", "nodes")
STATS = ("types_distribution", "top10_categories", "linked_stats",
         "extraction_stats")
# spans of the traced job itself; the ingest and dedup spans follow it
JOB_SPANS = ("job", "tables", "extract", "linking", "triples", "canonicalize",
             "stats", "sink")
FOLD_SPANS = ("ingest_canon_0", "ingest_canon_1", "ingest_neardup_0")


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def rows_repr(rows) -> list[str]:
    return sorted(repr(tuple(r)) for r in rows)


def surfaces_present(spark, data: str, surfaces: list[str]) -> dict:
    """Share of the corpus pages whose body text, as ``tables.docs_table``
    derives it, contains each surface: one aggregation over the corpus."""
    body = tables.docs_table(spark, f"{data}/corpus", with_html=False)
    row = body.agg(*[F.avg(F.col("body_text").contains(s).cast("double"))
                     .alias(f"s{i}") for i, s in enumerate(surfaces)]).first()
    return {s: row[f"s{i}"] for i, s in enumerate(surfaces)}


def stats_of(entities) -> dict:
    return {"types_distribution": S.types_distribution(entities),
            "top10_categories": S.top10(entities, "categories"),
            "linked_stats": S.linked_stats(entities),
            "extraction_stats": S.extraction_stats(entities)}


def verify_outputs(spark, out: str, collected: dict, names: tuple) -> dict:
    """Cheap, untimed checks of one job's outputs.  ``counts`` and ``stats``
    must also repeat exactly across the jobs of a run."""
    counts = {n: spark.read.parquet(f"{out}/{n}").count() for n in names}
    total = counts["entities"]
    ok = (total > 0
          and collected["linked_stats"][0]["total_entities"] == total
          and sum(r["entities_extracted"]
                  for r in collected["extraction_stats"]) == total
          and sum(r["cnt"] for r in collected["types_distribution"]) == total
          and counts["triples"] >= total)  # an instance_of triple per entity
    return {"ok": ok, "counts": counts,
            "stats": {k: rows_repr(v) for k, v in collected.items()
                      if k != "extraction_stats"}}


class CrawlHeavy:
    """Long pages, the 13-surface fixture gazetteer, the fused path."""
    name = "crawl_heavy"
    PAGES, SAMPLE = 4000, 40
    one_core_baseline = True  # the traced run also times a one-core session

    def generate(self, data: str, seed: int) -> dict:
        return inputs.crawl_heavy(data, seed, self.PAGES, self.SAMPLE)

    def input_facts(self, spark, data: str, props: dict) -> dict:
        present = surfaces_present(spark, data,
                                   [s for s, _, _ in fixtures.GAZETTEER])
        return {"distinct_entities": len({lbl for s, lbl, _ in fixtures.GAZETTEER
                                          if present[s] > 0}),
                "hot_key_share": present[inputs.HOT_KEY[0]]}

    def prepare(self, spark, data: str) -> dict:
        return {}

    def check(self, spark, data: str, ctx: dict) -> list[tuple[str, bool]]:
        """Fused entities equal the composable path's on the seeded sample
        (triples and nodes are the same functions of the entities)."""
        docs = tables.docs_table(spark, f"{data}/sample")
        fused = pipeline_from_docs(spark, docs, fused=True)["entities"]
        comp = pipeline_from_docs(spark, docs, fused=False)["entities"]
        ok = rows_repr(fused.collect()) == rows_repr(comp.collect())
        spark.catalog.clearCache()
        return [("fused_eq_composable", ok)]

    def job(self, spark, data: str, out: str, ctx: dict) -> dict:
        """What scripts/run_kg_pipeline.py does, plus the stats outputs."""
        res = pipeline_from_docs(
            spark, tables.docs_table(spark, f"{data}/corpus"), fused=True)
        for n in SINK:
            res[n].write.mode("overwrite").parquet(f"{out}/{n}")
        return {n: res[n].collect() for n in STATS}

    def verify(self, spark, out: str, collected: dict, ctx: dict) -> dict:
        return verify_outputs(spark, out, collected, SINK)

    def traced_job(self, spark, tr, data: str, out: str, ctx: dict) -> dict:
        """The fused branch of pipeline_from_docs, one layer at a time."""
        f = {}
        with tr.span("job"):
            with tr.span("tables"):
                f["docs"] = tables.docs_table(
                    spark, f"{data}/corpus").localCheckpoint()
            with tr.span("extract"):
                f["mentions"] = extract_and_detect(
                    f["docs"], dedup=True).localCheckpoint()
            with tr.span("linking"):
                resolved = linking.resolve_label_universe(
                    spark, [lbl for _, lbl, _ in fixtures.GAZETTEER])
                f["entities"] = linking.link_mentions_precomputed(
                    f["mentions"], resolved).localCheckpoint()
            with tr.span("triples"):
                f["triples"] = T.emit_triples(f["entities"]).localCheckpoint()
                f["nodes"] = T.nodes_table(f["entities"]).localCheckpoint()
            with tr.span("stats"):
                for df in stats_of(f["entities"]).values():
                    df.collect()
            with tr.span("sink"):
                for n in SINK:
                    f[n].write.mode("overwrite").parquet(f"{out}/{n}")
        return f

    def traced_extra(self, spark, tr, data: str, work: str, f: dict,
                     ctx: dict) -> tuple[dict, list]:
        return {}, []


class EntityDense:
    """Short pages dense with Zipf-drawn mentions of a 12k-entity KB; the
    composable operators, linking and canonicalization do the work."""
    name = "entity_dense"
    PAGES, ENTITIES, MENTIONS, SAMPLE = 3000, 12000, 7, 150
    one_core_baseline = False

    def generate(self, data: str, seed: int) -> dict:
        return inputs.entity_dense(data, seed, self.PAGES, self.ENTITIES,
                                   self.MENTIONS, self.SAMPLE)

    def input_facts(self, spark, data: str, props: dict) -> dict:
        hot = surfaces_present(spark, data, [inputs.HOT_KEY[0]])[inputs.HOT_KEY[0]]
        return {"hot_key_share": hot,
                "distinct_entities": props["distinct_entities_drawn"] + (hot > 0)}

    def prepare(self, spark, data: str) -> dict:
        """The gazetteer as a list, and the fixture KB dimensions extended by
        the generated synthetic pages and aliases."""
        g = pq.read_table(f"{data}/gazetteer.parquet").to_pydict()
        kb_synth = spark.read.parquet(f"{data}/kb.parquet")
        aliases_synth = spark.read.parquet(f"{data}/aliases.parquet")
        # the fixture frames carry no size estimate (Spark assumes
        # Long.MaxValue) and resolve_candidates hints every dimension
        # broadcast; the synthetic part's estimate shows how far the
        # dimensions sit from the size-based broadcast threshold
        regime = {"synthetic_kb_bytes": _plan_bytes(kb_synth),
                  "synthetic_aliases_bytes": _plan_bytes(aliases_synth),
                  "autoBroadcastJoinThreshold": int(spark.conf.get(
                      "spark.sql.autoBroadcastJoinThreshold"))}
        return {"gaz": list(zip(g["surface"], g["label"], g["type"])),
                "kb": fixtures.kb_pages_df(spark).unionByName(kb_synth),
                "aliases": fixtures.aliases_df(spark).unionByName(aliases_synth),
                "join_regime": regime}

    def mentions(self, spark, data: str, sample: str, ctx: dict):
        return extract_and_detect(tables.docs_table(spark, f"{data}/{sample}"),
                                  gazetteer=ctx["gaz"], dedup=True)

    def link(self, spark, mentions, ctx: dict):
        return linking.link_mentions(spark, mentions, aliases=ctx["aliases"],
                                     kb=ctx["kb"])

    def check(self, spark, data: str, ctx: dict) -> list[tuple[str, bool]]:
        """link_mentions equals link_mentions_precomputed over
        resolve_label_universe on the same KB, on the seeded sample."""
        ments = self.mentions(spark, data, "sample", ctx).persist()
        resolved = linking.resolve_label_universe(
            spark, [lbl for _, lbl, _ in ctx["gaz"]],
            aliases=ctx["aliases"], kb=ctx["kb"])
        pre = linking.link_mentions_precomputed(ments, resolved)
        ok = (rows_repr(self.link(spark, ments, ctx).collect())
              == rows_repr(pre.collect()))
        spark.catalog.clearCache()
        return [("link_mentions_eq_precomputed", ok)]

    def job(self, spark, data: str, out: str, ctx: dict) -> dict:
        """The composable branch of pipeline_from_docs (mentions persisted,
        corpus-distinct linking) plus canonicalization."""
        entities = self.link(
            spark, self.mentions(spark, data, "corpus", ctx).persist(), ctx)
        entities.write.mode("overwrite").parquet(f"{out}/entities")
        T.emit_triples(entities).write.mode("overwrite").parquet(f"{out}/triples")
        T.nodes_table(entities).write.mode("overwrite").parquet(f"{out}/nodes")
        canonical_entities(entities).write.mode("overwrite").parquet(
            f"{out}/canonical")
        return {n: df.collect() for n, df in stats_of(entities).items()}

    def verify(self, spark, out: str, collected: dict, ctx: dict) -> dict:
        v = verify_outputs(spark, out, collected, SINK + ("canonical",))
        # comp is its component's minimum member, so never above the node
        v["ok"] = v["ok"] and spark.read.parquet(f"{out}/canonical").where(
            "comp > node").count() == 0
        return v

    def traced_job(self, spark, tr, data: str, out: str, ctx: dict) -> dict:
        f = {}
        with tr.span("job"):
            with tr.span("tables"):
                f["docs"] = tables.docs_table(
                    spark, f"{data}/corpus").localCheckpoint()
            with tr.span("extract"):
                f["mentions"] = extract_and_detect(
                    f["docs"], gazetteer=ctx["gaz"], dedup=True).localCheckpoint()
            with tr.span("linking"):
                f["entities"] = self.link(spark, f["mentions"],
                                          ctx).localCheckpoint()
            with tr.span("triples"):
                f["triples"] = T.emit_triples(f["entities"]).localCheckpoint()
                f["nodes"] = T.nodes_table(f["entities"]).localCheckpoint()
            with tr.span("canonicalize"):
                f["canonical"] = canonical_entities(
                    f["entities"]).localCheckpoint()
            with tr.span("stats"):
                for df in stats_of(f["entities"]).values():
                    df.collect()
            with tr.span("sink"):
                for n in SINK + ("canonical",):
                    f[n].write.mode("overwrite").parquet(f"{out}/{n}")
        spark.catalog.clearCache()
        return f

    def traced_extra(self, spark, tr, data: str, work: str, f: dict,
                     ctx: dict) -> tuple[dict, list]:
        """The streaming maintenance folds, driven batch by batch over this
        corpus as the replay tests drive them: canonicalize_fold on two
        batches with compact_every=1, so batch 1 is a compaction batch, and
        neardup_fold on the first batch (its compaction batch alone takes
        12-16 s, which the traced run's time limit cannot spare).  Then
        simhash."""
        state = f"{work}/ingest"
        pages = spark.read.parquet(f"{data}/corpus").select("doc_id", "text")
        batch_of_url = "pmod(cast(substring(url, -8) AS bigint), 2)"  # doc_id % 2
        m = {}
        for b in (0, 1):
            with tr.span(f"ingest_canon_{b}"):
                edges = entity_edges(f["entities"].where(
                    f"{batch_of_url} = {b}")).localCheckpoint()
                canonicalize_fold(spark, edges, b, f"{state}/canon",
                                  compact_every=1)
            if b == 0:  # batch 1's compaction vacuums this delta
                m["ingest.delta_rows"] = spark.read.parquet(
                    f"{state}/canon/comps/batch_id=0").count()
        with tr.span("ingest_neardup_0"):
            neardup_fold(spark, pages.where("doc_id % 2 = 0"), 0,
                         f"{state}/neardup", f"{state}/pairs")
        with tr.span("dedup"):
            m["dedup.band_rows"] = dedup.simhash_bands(
                dedup.simhash(pages).localCheckpoint()).count()
        m["ingest.state_bytes"] = (dir_bytes(f"{state}/canon")
                                   + dir_bytes(f"{state}/neardup"))
        m["ingest.pairs_out"] = spark.read.parquet(f"{state}/pairs").count()
        got = {tuple(r) for r in read_components(
            spark, f"{state}/canon").select("node", "comp").collect()}
        want = {tuple(r) for r in canonical_entities(
            f["entities"]).select("node", "comp").collect()}
        spark.catalog.clearCache()
        return m, [("fold_state_eq_one_shot_canonical", got == want)]


def _plan_bytes(df) -> int:
    """The optimizer's size estimate, which the broadcast decision reads."""
    return int(str(df._jdf.queryExecution().optimizedPlan().stats()
                   .sizeInBytes()))


WORKLOADS = {w.name: w for w in (CrawlHeavy(), EntityDense())}


def layer_metrics(tr, sm: dict, f: dict, extra: dict, cores: int) -> dict:
    """The per-layer metrics of one traced job from its spans ``tr``, the
    stage metrics ``sm`` per span and its materialized frames ``f``; a layer
    the workload does not run reads 0."""

    def g(span: str, key: str) -> float:
        return sm.get(span, {}).get(key, 0)

    def count(name: str) -> int:
        return f[name].count() if name in f else 0

    ents = f["entities"]
    n_ents = ents.count()
    job = [sm.get(s, {}) for s in JOB_SPANS]
    fold_jobs = [sm[s]["jobs"] for s in FOLD_SPANS if s in sm]
    m = {
        "tables.scan_s": tr.self_time("tables"),
        "tables.rows": count("docs"),
        "extract.self_s": tr.self_time("extract"),
        "extract.rows_in": count("docs"),
        "extract.mentions_out": count("mentions"),
        "extract.executor_s": g("extract", "executorRunTime") / 1000,
        "extract.gc_s": g("extract", "jvmGcTime") / 1000,
        "extract.task_skew": g("extract", "task_skew"),
        "linking.self_s": tr.self_time("linking"),
        "linking.mentions_in": count("mentions"),
        "linking.distinct_keys": f["mentions"].select(
            "label", "link_lang").distinct().count(),
        "linking.linked_ratio": (ents.where("status = 'linked'").count()
                                 / n_ents if n_ents else 0.0),
        "linking.shuffle_bytes": g("linking", "shuffleWriteBytes"),
        "linking.fetch_wait_s": g("linking", "shuffleFetchWaitTime") / 1000,
        "linking.spill_bytes": g("linking", "diskBytesSpilled"),
        "linking.task_skew": g("linking", "task_skew"),
        "triples.self_s": tr.self_time("triples"),
        "triples.triples_out": count("triples"),
        "triples.nodes_out": count("nodes"),
        "canonicalize.self_s": tr.self_time("canonicalize"),
        "canonicalize.edges_in": (entity_edges(ents).count()
                                  if "canonical" in f else 0),
        "canonicalize.components": (f["canonical"].select("comp").distinct()
                                    .count() if "canonical" in f else 0),
        "canonicalize.spark_jobs": g("canonicalize", "jobs"),
        "canonicalize.shuffle_bytes": g("canonicalize", "shuffleWriteBytes"),
        "stats.self_s": tr.self_time("stats"),
        "sink.write_s": tr.self_time("sink"),
        "ingest.canon_fold_s": tr.duration("ingest_canon_0"),
        "ingest.neardup_fold_s": tr.duration("ingest_neardup_0"),
        "ingest.compaction_s": tr.duration("ingest_canon_1"),
        "ingest.spark_jobs_per_batch": (statistics.median(fold_jobs)
                                        if fold_jobs else 0),
        "ingest.state_bytes": 0, "ingest.delta_rows": 0, "ingest.pairs_out": 0,
        "dedup.simhash_s": tr.self_time("dedup"),
        "dedup.band_rows": 0,
        "spark.tasks": sum(s.get("numTasks", 0) for s in job),
        "spark.task_retries": sum(s.get("numFailedTasks", 0)
                                  + s.get("numKilledTasks", 0) for s in job),
        "spark.cpu_busy": (sum(s.get("executorRunTime", 0) for s in job) / 1000
                           / (tr.duration("job") * cores)),
    }
    m.update(extra)
    return m
