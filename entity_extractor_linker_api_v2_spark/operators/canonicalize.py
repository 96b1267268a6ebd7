"""Canonicalization: connected components over same-as/alias edges (M4).

Generalizes the reference's order-preserving label dedup
(app/core/entity_helpers.py:39-47, O-29) to corpus-wide entity resolution:
mention labels, canonical German labels and Wikidata QIDs form a graph
(label ↔ label_de, label_de ↔ wikidata_id); each connected component is one
real-world entity; the canonical id is the lexicographic minimum member
(hashed for stability).

``canonical_entities`` contracts the graph's known shape instead of
iterating over it: every entity row is a star around its anchor (its QID,
else its ``label_de``), so one aggregation per anchor and one per node
resolve every component in a fixed number of Spark jobs.  Only bridge
nodes — a node under two anchors — need iteration: the groups they join,
each contracted to its minimum node, go through
``connected_components_star``, alternating small-star /
large-star (Kiveris et al.): hub-safe at 10^12 edges — neighbor sets never
materialize on one row (join-based, no collect_list) and rounds strictly
shrink the edge relation toward the component stars.  It is a driver-side
loop with ``localCheckpoint()`` per round to cut lineage (SURVEY §4.2 — no
Catalyst analog, no GraphFrames dependency) whose convergence signature is
observed on that same job, and it is also the CC of the incremental
``merge_components*`` folds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


def entity_edges(entities: DataFrame) -> DataFrame:
    """Derive the resolution graph from the linked-entity table."""
    e1 = (entities.where("label != label_de")
          .selectExpr("label AS a", "label_de AS b"))
    e2 = (entities.where("wikidata_id != ''")
          .selectExpr("label_de AS a", "wikidata_id AS b"))
    return e1.unionByName(e2).distinct()


# star CC needs O(log n) rounds on chains; a graph still changing after this
# many rounds means a bug, not a slow graph
STAR_MAX_ROUNDS = 100


def connected_components_star(edges: DataFrame) -> DataFrame:
    """Alternating small-star / large-star connected components
    (Kiveris et al., "Connected Components in MapReduce and Beyond") —
    the hub-safe formulation for 10^12-edge graphs:

      large-star: every node u links each LARGER neighbor v>u to
                  m = min(Γ(u) ∪ {u})
      small-star: every node u links each not-larger neighbor (and itself)
                  to the minimum among them

    Both steps are expressed as ONE aggregation + ONE join over the edge
    relation (no collect_list — a hub's neighbor set never materializes on
    a single row), so per-round memory is O(1) per edge.  Converges in
    O(log n) rounds on chain-shaped graphs where plain min-label
    propagation needs O(diameter).  Node ids are strings; lexicographic
    order plays the role of the integer order in the paper.

    Rounds run to the fixpoint — a round that leaves the edge relation's
    signature unchanged, so an input that already is a star forest
    (member → smaller root) stops after one round; a graph that has not
    converged after ``STAR_MAX_ROUNDS`` rounds raises ``RuntimeError``
    rather than return a partial partition.

    Returns (node, comp) with comp = the component's minimum member
    (pytest-asserted against a BFS partition on chain / hub / random
    graphs).
    """
    def checkpoint(ed: DataFrame):
        # convergence check: the edge relation is a fixpoint when a round
        # leaves its (count, checksum) signature unchanged; the signature is
        # observed on the job that materializes the relation, not collected
        # by a job of its own
        obs = Observation()
        ed = (ed.observe(obs, F.count("*").alias("n"),
                         F.expr("bit_xor(xxhash64(a, b)) AS x"))
              .localCheckpoint())
        sig = obs.get
        return ed, (sig["n"], sig["x"])

    # with the input's own signature, a star-forest input stops after one
    # round
    e0, prev_sig = checkpoint(edges.select("a", "b")
                              .filter(F.col("a") != F.col("b")).distinct())
    e = e0
    # all_nodes is consumed ONCE, in the final left join — deriving it
    # lazily from the already-materialized e0 costs nothing per round,
    # where the old eager localCheckpoint paid a full extra job up front
    all_nodes = (e0.selectExpr("a AS node")
                 .unionByName(e0.selectExpr("b AS node"))
                 .distinct())

    # round bodies are selectExpr/where strings (round 8): the Column
    # formulation issued ~1000 py4j round trips per CC round of pure
    # plan-build time inside the bench timer (guide §1.2); the strings
    # parse to the identical trees.
    def star(ed: DataFrame, large: bool) -> DataFrame:
        # each step views the edge list as UNDIRECTED: symmetrize first
        # (neighbor sets are wrong otherwise — the previous step's output
        # is directed (member -> min))
        sym = ed.unionByName(ed.selectExpr("b AS a", "a AS b"))
        src = sym if large else sym.where("b <= a")
        m = (src.groupBy("a").agg(F.expr("min(b) AS _mn"))
             .selectExpr("a", "least(a, _mn) AS m"))
        if large:
            out = (sym.join(m, "a").where("b > a")
                   .selectExpr("b AS a", "m AS b"))
            # NO dedup here (round 8): the large-star output feeds ONLY the
            # small-star half of the same round, whose min-aggregate is
            # duplicate-insensitive and whose own distinct dedups the round's
            # result — the intermediate exchange bought nothing (guide §2.4)
            return out.where("a != b")
        out = (src.join(m, "a")
               .selectExpr("b AS a", "m AS b")
               .unionByName(m.selectExpr("a", "m AS b")))
        return out.where("a != b").distinct()

    for _ in range(STAR_MAX_ROUNDS):
        e, sig = checkpoint(star(star(e, large=True), large=False))
        if sig == prev_sig:
            break
        prev_sig = sig
    else:
        raise RuntimeError(f"star connected components did not converge in "
                           f"{STAR_MAX_ROUNDS} rounds")
    # after convergence e is a star: (member, root); roots map to themselves
    comps = e.selectExpr("a AS node", "b AS comp")
    return (all_nodes.join(comps, "node", "left")
            .selectExpr("node", "coalesce(comp, node) AS comp"))


# above this many batch nodes, merge_components_delta stops FORCING
# broadcast of its probe frames (a fat catch-up batch would otherwise OOM
# the driver/executors on the broadcast) and lets AQE pick the strategy
DELTA_BROADCAST_MAX_NODES = 1_000_000


def affected_members(comps: DataFrame, batch_nodes: DataFrame,
                     hint_broadcast: bool = True) -> DataFrame:
    """All (node, comp) rows of the components that contain at least one
    batch node — the ONLY part of the state that a batch of new edges can
    change.  A component none of whose members touches a new edge keeps
    both its membership and its minimum, so it must not enter the merge's
    CC input.  Two left-semi probes over a streamed scan of the state;
    with `hint_broadcast` (micro-batch-sized probes — the normal fold path)
    both are forced broadcasts so the state side is never shuffled here.
    Callers folding a FAT batch pass hint_broadcast=False and AQE chooses
    (see DELTA_BROADCAST_MAX_NODES)."""
    maybe = F.broadcast if hint_broadcast else (lambda df: df)
    affected = (comps.join(maybe(batch_nodes), "node", "left_semi")
                .select("comp").distinct())
    return comps.join(maybe(affected), "comp", "left_semi")


def merge_components_delta(comps: DataFrame, new_edges: DataFrame) -> DataFrame:
    """Incremental connected components, delta form: fold a batch of NEW
    edges into an existing (node, comp) partition and return ONLY the rows
    that change — new nodes plus members whose comp label moves.

    Correctness: a new edge can only change components it (transitively via
    other new edges) touches, and every endpoint of every new edge is a
    batch node — so restricting the CC input to ``affected_members`` plus
    the new edges loses nothing.  Inside that subgraph the existing
    partition is a star relation (member → comp root) with the same
    connectivity as the original edges, so CC(stars ∪ new_edges) ≡
    CC(all_old_edges ∪ new_edges), and comp labels stay the
    component-minimum because every star already points at its minimum.

    Per micro-batch cost: CC iterations run over O(|batch| ×
    affected-component size) rows — NOT O(|components|); the full state is
    only STREAMED (broadcast semi-probes), never iterated or shuffled.
    Pytest-asserted ≡ full recompute on random multi-batch splits."""
    # both are micro-batch-sized; materialized eagerly because each is
    # consumed twice (edges: node projection + CC union; batch_nodes: the
    # broadcast probe) and a lazy frame would re-run the caller's upstream
    # extraction lineage per consumer
    edges = new_edges.select("a", "b").distinct().localCheckpoint()
    batch_nodes = (edges.select(F.col("a").alias("node"))
                   .unionByName(edges.select(F.col("b").alias("node")))
                   .distinct().localCheckpoint())
    # fat-batch guard (round-5 advice): a catch-up batch can carry millions
    # of nodes — forcing those through a broadcast would OOM; the count is
    # free here (batch_nodes is already materialized)
    hint = batch_nodes.count() <= DELTA_BROADCAST_MAX_NODES
    members = affected_members(comps, batch_nodes,
                               hint_broadcast=hint).localCheckpoint()
    stars = (members.filter(F.col("node") != F.col("comp"))
             .select(F.col("node").alias("a"), F.col("comp").alias("b")))
    res = connected_components_star(stars.unionByName(edges).distinct())
    prev = members.select("node", F.col("comp").alias("old_comp"))
    return (res.join(prev, "node", "left")
            .filter(F.col("old_comp").isNull()
                    | (F.col("comp") != F.col("old_comp")))
            .select("node", "comp"))


def merge_components(comps: DataFrame, new_edges: DataFrame) -> DataFrame:
    """Incremental connected components, full-view form: the merged
    (node, comp) partition after folding a batch of NEW edges.  Thin
    wrapper over ``merge_components_delta`` — unchanged rows (the vast
    majority at scale) are carried through with a broadcast anti-join,
    never re-derived."""
    delta = merge_components_delta(comps, new_edges).localCheckpoint()
    # no forced broadcast here: unlike the batch-bounded probe frames, the
    # delta is bounded by the AFFECTED COMPONENT sizes (a batch merging two
    # huge components rewrites both) — let AQE pick broadcast when small
    untouched = comps.join(delta.select("node"), "node", "left_anti")
    return delta.unionByName(untouched)


def anchor_pairs(entities: DataFrame) -> DataFrame:
    """The distinct (anchor, node) pairs of the ``entity_edges`` graph: each
    entity row's nodes {label, label_de, anchor} under its anchor
    (``wikidata_id`` if non-empty, else ``label_de``), with gm = the
    anchor's minimum node.  Rows with one distinct node carry no edge."""
    # an edge needs a non-null label_de (both of its edge kinds touch it);
    # a null label is no node
    return (entities.where("label_de IS NOT NULL")
            .selectExpr("CASE WHEN wikidata_id != '' THEN wikidata_id "
                        "ELSE label_de END AS anchor", "label", "label_de")
            .selectExpr("anchor", "array_distinct(array_compact("
                        "array(label, label_de, anchor))) AS nodes")
            .where("size(nodes) > 1")
            .selectExpr("anchor", "explode(nodes) AS node")
            .distinct()
            .selectExpr("anchor", "node",
                        "min(node) OVER (PARTITION BY anchor) AS gm"))


def node_anchors(pairs: DataFrame) -> DataFrame:
    """Per node of ``anchor_pairs``: whether it is a bridge (under two
    anchors) and comp = the minimum gm over its anchors — the component
    minimum whenever no bridge joins its anchor's group to another."""
    return (pairs.groupBy("node")
            .agg(F.expr("min(anchor) != max(anchor) AS bridge"),
                 F.expr("min(gm) AS comp")))


def canonical_entities(entities: DataFrame) -> DataFrame:
    """entities → (node, comp, canonical_id): every mention label / canonical
    label / QID of ``entity_edges(entities)`` mapped to its component
    representative (the minimum member) and that member's sha256.

    Contraction instead of iteration.  Each entity row's edges form a star
    around its anchor — ``wikidata_id`` if non-empty, else ``label_de`` — on
    the nodes {label, label_de, anchor}; a row with a single distinct node
    (label = label_de, no QID) has no edge.  So the distinct (anchor, node)
    pairs describe the whole graph, every anchor's group is connected, and
    groups only join through a bridge: a node under two anchors (a label
    that resolves to two pages, a label_de under two QIDs or under a
    QID-less row).  With gm(anchor) = the group's minimum node:

      * no bridge: the groups are the components, comp = gm of the node's
        one anchor — two aggregations, done;
      * bridges: each group is contracted to its gm, and a bridge links
        the gm of every one of its anchors to its own min gm.  Star CC over
        those gm-level edges merges exactly the groups that share nodes,
        and its comp is the least gm, i.e. the least node, of the merged
        groups; a node's comp is the CC comp of its own min gm, or that
        min gm when no bridge reaches its group.

    Which branch runs is decided by the data — the bridge count is observed
    on the job that materializes the per-node aggregate — not by a flag.
    Pytest-asserted ≡ the BFS partition of ``entity_edges`` on seeded
    graphs with and without bridges."""
    pairs = anchor_pairs(entities).localCheckpoint()
    # the bridge count rides on the materializing job as an observed metric
    has_bridges = Observation("bridges")
    per_node = (node_anchors(pairs)
                .observe(has_bridges, F.expr("count_if(bridge) AS n"))
                .localCheckpoint())
    if has_bridges.get["n"] == 0:
        comps = per_node
    else:
        # gm-level edges: a bridge links the gm of each of its anchors to
        # its own comp (the least of them)
        cc = connected_components_star(
            pairs.join(per_node.where("bridge"), "node")
            .selectExpr("gm AS a", "comp AS b"))
        comps = (per_node.join(cc.selectExpr("node AS comp", "comp AS cc"),
                               "comp", "left")
                 .selectExpr("node", "coalesce(cc, comp) AS comp"))
    return comps.selectExpr("node", "comp", "sha2(comp, 256) AS canonical_id")
