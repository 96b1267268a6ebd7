"""Similarity search over the embeddings table (array<float> column).

  * brute_force_topk — exact cosine top-k against a query vector: one
    codegen'd aggregate per row (F.aggregate over zip_with), then a global
    top-k (orderBy+limit ⇒ per-partition top-k + single reduce).  The
    baseline and the verifier for approximate variants.
  * lsh_buckets      — random-hyperplane (SimHash) bucketing: sign bits of
    dots with deterministic hyperplanes; ANN probes only matching buckets.
  * neardup_candidate_pairs / embedding_near_dups — cosine near-duplicate
    pairs from MULTI-TABLE hyperplane LSH (the embedding-space analog of
    MinHash band-LSH): `n_tables` independent hash tables of `bits`
    hyperplane sign bits each, per-(table, bucket) membership capped, exact
    cosine only on the candidate union.

Query vector / hyperplanes are exact rationals (i*37%19-9)/10 so Spark and
the DuckDB oracle compute identical doubles; scores are rounded before
output to absorb summation-order ULPs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import local_table

DIM = 64
N_PLANES = 4
# auto-derivation target: bits ≈ log2(n / TARGET_BUCKET).  48 (not 32) so the
# sf-scale corpora (500 vectors, ±5% approx_count_distinct error) sit mid-band
# and derive exactly the historical 4-bit default — the flip points 384/768
# are far from 500·(1±ε), so the oracle-pinned constant stays reproducible.
TARGET_BUCKET = 48


def derived_bits(n: int, target_bucket: int = TARGET_BUCKET,
                 lo: int = 2, hi: int = 24) -> int:
    """Hyperplane-bit count for corpus size n: ceil(log2(n/target_bucket)),
    clamped to [lo, hi].  Buckets per table = 2^bits, so expected bucket
    membership ≈ target_bucket regardless of corpus size — the dial the
    round-3 docstring told callers to turn by hand, now derived."""
    import math
    if n <= target_bucket:
        return lo
    return max(lo, min(hi, math.ceil(math.log2(n / target_bucket))))


def _approx_n(df: DataFrame, id_col: str) -> int:
    """approx_count_distinct corpus-size estimate (one cheap scan; at cluster
    scale this is a metadata-ish job vs the LSH pass it parameterizes)."""
    return df.agg(F.approx_count_distinct(id_col).alias("n")).collect()[0]["n"]


def query_vector(dim: int = DIM) -> list[float]:
    return [((i * 37) % 19 - 9) / 10.0 for i in range(dim)]


def hyperplane(j: int, dim: int = DIM) -> list[float]:
    return [((i * (j + 2) * 13) % 7 - 3) / 5.0 for i in range(dim)]


def extended_plane(k: int, salt: int = 0, dim: int = DIM) -> list[float]:
    """Plane for the auto-derived (bits > 4) regime.  The legacy mod-7/mod-19
    families have only 6/18 distinct members (their normals depend on the
    index modulo a small prime), so derived bit counts beyond that would
    silently duplicate planes and add zero discrimination.  This family's
    multiplier is distinct mod 1009 for every k the bit clamp can reach
    (degenerate only at 2k+3 ≡ 0 mod 1009, i.e. k = 503), and stays exact
    rationals.  Only the FIRST FOUR legacy planes are oracle-pinned; these
    extended planes are the deterministic scale path."""
    m = (2 * k + 3) * 2654435761
    return [((i * m + k * 40503 + salt) % 1009 - 504) / 504.0 for i in range(dim)]


# Dot product with a constant vector and L2 norm of NAMED array columns, as
# SQL text: one F.expr parse builds the expression tree JVM-side, where the
# Python Column API would take ~70 py4j round trips per call for the
# 64-literal array and two lambda trees (measured ~0.7 s of plan-build time
# in q50).  `{x!r}D` literals round-trip doubles exactly (repr is
# shortest-exact, the D suffix forces DoubleType — a bare decimal would
# parse as DECIMAL), and the product is a left fold from 0.0D over the
# elements in order (oracle-hash-checked via q28/q29/q30/q50).


def _dot_sql_str(col: str, const: list[float]) -> str:
    arr = ",".join(f"{float(x)!r}D" for x in const)
    return (f"aggregate(zip_with({col}, array({arr}), "
            f"(a, b) -> cast(a as double) * b), 0.0D, (acc, x) -> acc + x)")


def _dot_sql(col: str, const: list[float]):
    return F.expr(_dot_sql_str(col, const))


def _norm_sql_str(col: str) -> str:
    return (f"sqrt(aggregate({col}, 0.0D, "
            f"(acc, x) -> acc + cast(x as double) * cast(x as double)))")


def _norm_sql(col: str):
    return F.expr(_norm_sql_str(col))


def _matrix_sql(cents: list[tuple[int, list[float]]]) -> tuple[str, str]:
    """(cmat, cids) as SQL array literals — F.lit of a nested K×dim python
    list builds the literal ELEMENT-WISE over py4j (~1000+ round trips for
    16×64; the bulk of q49-q52's measured 4.7k-16.9k construction calls);
    one parsed string is one round trip for the identical nested
    array<array<double>> / array<int> literals."""
    cmat = "array(" + ", ".join(
        "array(" + ",".join(f"{float(x)!r}D" for x in cv) + ")"
        for _, cv in cents) + ")"
    cids = "array(" + ",".join(str(int(cid)) for cid, _ in cents) + ")"
    return cmat, cids


def _argmin_sql(vec_col: str, cents: list[tuple[int, list[float]]],
                measure_sql) -> str:
    """SQL text of the per-row argmin struct over literal centroids:
    array_min over (measure, centroid_id) structs — a single Project, zero
    Exchange; ties go to the smallest centroid_id.  ``measure_sql(vec,
    cvec)`` returns the measure expression text (ascending-better; negate
    a dot for argmax).

    The centroid matrix is ONE nested array literal traversed with
    zip_with, not K unrolled per-centroid expressions: the generated code
    is O(1) in K×dim (an unrolled 16×64-literal tree cost seconds of
    Janino compilation per query — fixed overhead that dwarfed the actual
    scan at bench scale)."""
    cmat, cids = _matrix_sql(cents)
    return ("array_min(zip_with(" + cmat + ", " + cids + ", (cv, cid) -> "
            "named_struct('m', " + measure_sql(vec_col, "cv") + ", "
            "'centroid_id', cast(cid AS bigint))))")


def _neg_dot_sql(vec: str, cvec: str) -> str:
    """Negated HOF dot against a centroid row of the literal matrix — the
    exact zip_with + sequential-aggregate arithmetic of the relational
    formulation (the literal matrix holds the same doubles the float32
    cvec cast to), negated so array_min takes the argmax.  Negation of a
    double is exact."""
    return ("-aggregate(zip_with(" + vec + ", " + cvec + ", "
            "(a, b) -> cast(a as double) * b), 0.0D, (acc, x) -> acc + x)")


def brute_force_topk(df: DataFrame, k: int = 10, id_col: str = "vec_id",
                     vec_col: str = "embedding") -> DataFrame:
    import math
    q = query_vector()
    qn = math.sqrt(sum(x * x for x in q))
    score = (_dot_sql_str(vec_col, q)
             + f" / ({_norm_sql_str(vec_col)} * {float(qn)!r}D)")
    return (df.selectExpr(id_col, score + " AS _s")
            .orderBy(F.desc("_s"), id_col).limit(k)
            .selectExpr(id_col, "round(_s, 3) AS cosine"))


def lsh_buckets(df: DataFrame, id_col: str = "vec_id",
                vec_col: str = "embedding",
                n_planes: int | None = None) -> DataFrame:
    """Sign-bit bucket per vector.  n_planes=None derives the plane count
    from corpus size (derived_bits) — at the sf-scale corpora this equals
    the historical N_PLANES=4, which is what the static oracle SQL pins."""
    if n_planes is None:
        n_planes = derived_bits(_approx_n(df, id_col))
    # planes 0..3 are the legacy oracle-pinned family (non-degenerate for
    # these js); anything beyond comes from the large-modulus extended
    # family — the legacy family has only 6 distinct members (period 7)
    planes = ([hyperplane(j) for j in range(min(n_planes, N_PLANES))]
              + [extended_plane(j) for j in range(N_PLANES, n_planes)])
    bits = [f"CASE WHEN round({_dot_sql_str(vec_col, p)}, 6) >= 0 "
            "THEN '1' ELSE '0' END" for p in planes]
    return df.selectExpr(id_col, "concat(" + ", ".join(bits) + ") AS bucket")


N_CENTROIDS = 16


def default_centroids(df: DataFrame, id_col: str = "vec_id",
                      vec_col: str = "embedding") -> DataFrame:
    """Deterministic coarse centroids: the first N_CENTROIDS vectors by id,
    as (centroid_id, cvec).  K is FIXED (like the k-means seeds) — the
    round-3 definition (ids ≡ 0 mod 16) made K grow as n/16, so the
    per-row assignment cost scaled with the corpus (125 centroids at the
    sf0.1 bench, 10¹¹ at 100 TB) instead of being a chosen index
    parameter."""
    # orderBy+limit (TakeOrderedAndProject), not filter(id < K): identical on
    # dense 0-based ids (what the oracle pins) but still yields K centroids
    # when ids are offset or hashed
    return (df.orderBy(id_col).limit(N_CENTROIDS)
            .select(F.col(id_col).alias("centroid_id"), F.col(vec_col).alias("cvec")))


def _collect_centroids(c: DataFrame) -> list[tuple[int, list[float]]]:
    """Driver-collect a (centroid_id, cvec) relation — K ≤ tens of rows.
    At 10¹² vectors the centroid set is still driver-small; inlining it as
    literals keeps the corpus map-side (no n×K shuffle)."""
    rows = c.select("centroid_id", "cvec").collect()
    if not rows:
        raise ValueError("empty centroid relation — an empty candidate array "
                         "would silently assign NULL centroid_id to every row")
    return sorted(((r["centroid_id"], list(r["cvec"])) for r in rows),
                  key=lambda t: t[0])


def ivf_assign(df: DataFrame, id_col: str = "vec_id",
               vec_col: str = "embedding",
               centroids: DataFrame | None = None) -> DataFrame:
    """IVF coarse quantization: every vector is assigned to its max-dot
    centroid.  `centroids` is any (centroid_id, cvec) relation —
    ``default_centroids`` (deterministic, the oracle-compared path) or
    ``kmeans_centroids`` (trained; composition pytest-asserted) slot in
    unchanged.  At scale the inverted lists partition the index so a query
    probes ~n/K vectors instead of n.

    The ≤K centroids are collected to the driver and inlined as literals,
    so assignment is a pure map-side array-expression argmax (negated-dot
    array_min; ties → smallest centroid_id) — the n×K crossJoin + window
    shape this replaces shuffled the whole corpus per call.  The HOF dot
    (zip_with + sequential aggregate) is kept bit-identical for oracle
    float parity."""
    c = centroids if centroids is not None else default_centroids(df, id_col, vec_col)
    best = _argmin_sql(vec_col, _collect_centroids(c), _neg_dot_sql)
    # explode(array(...)) Generate barrier: the projection reads BOTH fields
    # of the argmin struct, and interpreted HOF chains get no common-
    # subexpression elimination — without the barrier the full K-dot scan
    # runs twice per row (CollapseProject re-inlines it into each field
    # reference; same trick as dedup.minhash_signatures).  The exploded
    # struct IS the argmin struct (fields m, centroid_id) — identical
    # values to the old rewrapped struct, one array_min in the tree.
    return (df.selectExpr(id_col, "explode(array(" + best + ")) AS _b")
            .selectExpr(id_col, "_b.centroid_id AS centroid_id",
                        "round(-_b.m, 3) AS centroid_dot"))


def ivf_topk(df: DataFrame, k: int = 10, id_col: str = "vec_id",
             vec_col: str = "embedding",
             index: DataFrame | None = None, nprobe: int = 1,
             centroids: DataFrame | None = None) -> DataFrame:
    """IVF search: rank the query vector's centroids by dot, probe the
    `nprobe` best inverted lists, exact cosine inside them.

    `nprobe` is the recall/cost dial: 1 scans ~n/K vectors; K scans all of
    them (== brute force, pytest-asserted).  On isotropic random vectors
    single-probe recall is structurally ≈ nprobe/K — real (clustered)
    embeddings are the regime IVF exists for.

    `index` = a precomputed ivf_assign() result: at scale the index is BUILT
    ONCE (materialized/bucketed by centroid_id, e.g. via StageCheckpoint)
    and reused across every query — only the driver-side bench/oracle path
    recomputes it inline when `index` is None."""
    import math
    q = query_vector()
    qn = math.sqrt(sum(x * x for x in q))
    cents = centroids if centroids is not None \
        else default_centroids(df, id_col, vec_col)
    score = _dot_sql(vec_col, q) / (_norm_sql(vec_col) * F.lit(qn))
    if index is not None:
        # prebuilt (materialized/bucketed) index: probe-list broadcast join.
        # Project the index to (id, centroid_id) first — a save_ivf_index
        # table also carries the vector column, which would make the score's
        # embedding reference ambiguous after the join
        best_c = (cents.selectExpr("*", _dot_sql_str("cvec", q) + " AS _qd")
                  .orderBy(F.desc("_qd"), "centroid_id").limit(nprobe)
                  .select("centroid_id"))
        probed = (df.join(index.select(id_col, "centroid_id"), id_col)
                  .join(F.broadcast(best_c), "centroid_id"))
    else:
        # inline path: assignment is a map-side literal-centroid argmax and
        # the probe list is ranked ON THE DRIVER from the ≤K centroids that
        # are already collected for the argmin literals (round 8) — the
        # Python left fold `acc += cv[i]*q[i]` is the identical IEEE-double
        # sequence to _dot_sql_str's aggregate, and the (−dot, centroid_id)
        # sort matches the old orderBy(desc _qd, centroid_id) tie-break, so the
        # probed set is bit-identical while the plan loses the ranking
        # subquery AND the broadcast join: Scan → Project → Filter →
        # TakeOrderedAndProject, zero Join (the shape ivf_topk_indexed
        # already established with its driver-collected probe ids).
        clist = _collect_centroids(cents)

        def _pydot(cv):
            acc = 0.0
            for a, b in zip(cv, q):
                acc += float(a) * b
            return acc

        probe_ids = [cid0 for _, cid0 in sorted(
            ((-_pydot(cv), cid0) for cid0, cv in clist))][:nprobe]
        best = _argmin_sql(vec_col, clist, _neg_dot_sql)
        probed = (df.selectExpr("*", best + ".centroid_id AS centroid_id")
                  .where("centroid_id IN ("
                         + ",".join(str(int(p)) for p in probe_ids) + ")"
                         if probe_ids else "false"))
    return (probed
            .select(F.col(id_col), score.alias("_s"))
            .orderBy(F.desc("_s"), id_col).limit(k)
            .select(id_col, F.round("_s", 3).alias("cosine")))


def save_ivf_index(df: DataFrame, table: str, id_col: str = "vec_id",
                   vec_col: str = "embedding",
                   centroids: DataFrame | None = None,
                   buckets: int = N_CENTROIDS,
                   path: str | None = None) -> DataFrame:
    """Materialize the IVF index ONCE as a table bucketed by centroid_id —
    the build-once regime the ivf_topk docstring promises.

    The assignment column is computed map-side (literal-centroid argmin, no
    shuffle); the only exchange is the bucketBy write itself — paid once at
    build, amortized over every query.  Because `centroid_id` is the bucket
    column, a probe filter `centroid_id IN (<nprobe ids>)` prunes buckets at
    the SCAN (SelectedBucketsCount in the plan): a query reads ~nprobe/K of
    the index files, no join, no shuffle — at 10¹² vectors that is the
    difference between scanning TBs and scanning GBs."""
    c = centroids if centroids is not None else default_centroids(df, id_col, vec_col)
    best = _argmin_sql(vec_col, _collect_centroids(c), _neg_dot_sql)
    indexed = df.selectExpr(id_col, vec_col,
                            best + ".centroid_id AS centroid_id")
    # persist the centroid dimension beside the index: probes rank against
    # it directly instead of re-scanning the full index per query
    cw = c.write.mode("overwrite").format("parquet")
    if path is not None:
        cw = cw.option("path", f"{path}/centroids")
    cw.saveAsTable(f"{table}_centroids")
    from ..sources.bucketed import save_bucketed
    return save_bucketed(indexed, table, ["centroid_id"], buckets=buckets,
                         path=None if path is None else f"{path}/index")


# One probe session per SparkContext, created lazily and reused: probing on
# a child session with DisableUnnecessaryBucketedScan off is required — the
# planner rule drops the bucketed layout when no JOIN needs the
# distribution, which also silently discards scan-level bucket PRUNING, the
# entire point of the index (observed: "Bucketed: false (disabled by query
# planner)" and a full-file scan).  newSession() shares the catalog and
# SparkContext; only the probe conf differs.  Cached (keyed by
# applicationId, capped) so a hot probe path doesn't accumulate one session
# per call for the life of the SparkContext.
_PROBE_SESSIONS: dict[str, "SparkSession"] = {}
_MAX_PROBE_SESSIONS = 4


def _probe_session(spark):
    app_id = spark.sparkContext.applicationId
    s2 = _PROBE_SESSIONS.get(app_id)
    if s2 is None:
        while len(_PROBE_SESSIONS) >= _MAX_PROBE_SESSIONS:
            _PROBE_SESSIONS.pop(next(iter(_PROBE_SESSIONS)))
        s2 = spark.newSession()
        s2.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled",
                    "false")
        _PROBE_SESSIONS[app_id] = s2
    return s2


def ivf_topk_indexed(spark, table: str, k: int = 10, id_col: str = "vec_id",
                     vec_col: str = "embedding", nprobe: int = 1,
                     centroids: DataFrame | None = None,
                     rebind: bool = False) -> DataFrame:
    """IVF search against a ``save_ivf_index`` table: rank centroids by
    query dot, read ONLY the nprobe matching buckets (scan-level bucket
    pruning via the IN-literal filter), exact cosine inside them.

    Identical results to ``ivf_topk`` at the same nprobe (pytest-asserted);
    the difference is the physical plan — Scan(pruned buckets) → Project →
    TakeOrderedAndProject, zero Exchange, zero Join.

    By default the returned frame is bound to a cached probe CHILD session
    (same SparkContext and catalog, different conf — see _probe_session);
    collect it or write it, but don't join it against frames from the
    parent session (cross-session plans fail).  Pass ``rebind=True`` to get
    a frame in the CALLER's session instead: the top-k result is ≤k rows,
    so it is collected eagerly (the pruned probe still executes on the
    child session) and recreated via ``session.local_table`` — joinable
    with any parent-session frame, at the cost of eager execution and a
    plan that no longer shows the pruned scan."""
    import math
    q = query_vector()
    qn = math.sqrt(sum(x * x for x in q))
    s2 = _probe_session(spark)
    # the cached child session keeps its OWN relation cache: after a
    # save_ivf_index rebuild (possibly at a new external path) it would
    # silently serve the previous index's files — refresh both tables so
    # every probe sees the catalog's current state.  Only AnalysisException
    # (table missing — s2.table() below raises cleanly) is swallowed; real
    # catalog/IO failures must surface here, not as a stale read.
    from pyspark.errors import AnalysisException
    for t in (table, f"{table}_centroids"):
        try:
            s2.catalog.refreshTable(t)
        except AnalysisException:
            pass
    idx = s2.table(table)
    c = centroids if centroids is not None \
        else s2.table(f"{table}_centroids")
    probe_ids = [r["centroid_id"] for r in
                 (c.selectExpr("*", _dot_sql_str("cvec", q) + " AS _qd")
                  .orderBy(F.desc("_qd"), "centroid_id").limit(nprobe)
                  .select("centroid_id").collect())]
    score = _dot_sql(vec_col, q) / (_norm_sql(vec_col) * F.lit(qn))
    out = (idx.filter(F.col("centroid_id").isin(probe_ids))
           .select(F.col(id_col), score.alias("_s"))
           .orderBy(F.desc("_s"), id_col).limit(k)
           .select(id_col, F.round("_s", 3).alias("cosine")))
    if rebind:
        return local_table(spark, out.collect(), out.schema)
    return out


def kmeans_assign(df: DataFrame, k: int = 8, iters: int = 2,
                  id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Deterministic k-means (fixed iterations, seeds = first k vectors by
    id): the iterative centroid-train step the IVF index plugs into.

    Each iteration is a pure map-side argmin over the k driver-collected
    centroids inlined as one matrix literal (zero corpus shuffle) + ONE
    shuffle to recompute means: per-dimension avg() aggregates
    (partial-aggregated map-side), so the exchange carries k×dim partials
    per map partition — NOT the n×dim exploded rows a posexplode
    formulation would shuffle.  No randomness and a fixed iteration count
    make it exactly reproducible — the DuckDB oracle unrolls the same two
    iterations.
    """
    assigned, _ = _kmeans(df, k, iters, id_col, vec_col)
    return assigned.select(id_col, "cluster")


def kmeans_centroids(df: DataFrame, k: int = 8, iters: int = 2,
                     id_col: str = "vec_id",
                     vec_col: str = "embedding") -> DataFrame:
    """Trained centroids as (centroid_id, cvec) — drops into
    ivf_assign/ivf_topk unchanged (the composition the IVF docstrings
    promise; pytest-asserted)."""
    _, cents = _kmeans(df, k, iters, id_col, vec_col)
    return cents.select(F.col("cluster").alias("centroid_id"), "cvec")


def _kmeans(df: DataFrame, k: int, iters: int, id_col: str, vec_col: str):
    """Each iteration: per-row argmin over the k literal centroids (pure
    Project — the n×k crossJoin + window this replaces shuffled the corpus
    once per iteration) + ONE shuffle for the per-dimension avg() partials.
    The new means (k×DIM doubles) are collected to the driver between
    iterations and re-inlined as literals — exact values, so the unrolled
    DuckDB oracle stays float-identical."""
    def dist2_sql(vec: str, cvec: str) -> str:
        return ("aggregate(zip_with(" + vec + ", " + cvec + ", "
                "(a, b) -> (cast(a as double) - b) * (cast(a as double) - b)"
                "), 0.0D, (acc, x) -> acc + x)")

    assigned = None
    cents_df = (df.where(f"{id_col} < {int(k)}")
                .selectExpr(f"{id_col} AS cluster",
                            f"transform({vec_col}, x -> cast(x AS double)) "
                            "AS cvec"))
    for _ in range(iters):
        cents = _collect_centroids(
            cents_df.selectExpr("cluster AS centroid_id", "cvec"))
        best = _argmin_sql(vec_col, cents, dist2_sql)
        assigned = df.selectExpr(id_col, vec_col,
                                 best + ".centroid_id AS cluster")
        # per-dimension means -> rebuilt centroid arrays: dim avg() columns
        # in one hash aggregate (map-side combine), zero explode; the agg
        # measures are parsed expr strings (the 2×64 Column builds per
        # iteration were most of q51's 16.9k construction round trips)
        cents_df = (assigned
                    .groupBy("cluster")
                    .agg(*[F.expr(f"avg(cast(element_at({vec_col}, {i + 1}) "
                                  f"AS double)) AS _m{i}")
                           for i in range(DIM)])
                    .selectExpr("cluster",
                                "array(" + ",".join(f"_m{i}"
                                                    for i in range(DIM))
                                + ") AS cvec"))
    return assigned, cents_df


# Near-dup candidate generation: n_tables independent hash tables of `bits`
# sign bits each.  The bucket count per table is 2^bits — bits=None (the
# default) derives bits ≈ log2(n / TARGET_BUCKET) from an
# approx_count_distinct estimate (derived_bits), so the intra-bucket pair
# join stays ~n·target per table at any corpus size instead of degrading
# toward n²/2^bits (the same m² blowup the MinHash-LSH bucket cap guards
# against).  The cap bounds the degenerate case (a 10^6-member boilerplate
# bucket) at cap² regardless.
NEARDUP_TABLES = 2
NEARDUP_BITS = 4
NEARDUP_BUCKET_CAP = 64


def neardup_plane(t: int, b: int, dim: int = DIM) -> list[float]:
    """Hyperplane `b` of table `t` — exact rationals, and (unlike
    ``hyperplane``'s mod-7 family, degenerate to a constant normal at
    j+2 ≡ 0 mod 7) non-constant whenever 7t+b+2 is not a multiple of 19 —
    the asserted case for every (t, b) the defaults can reach."""
    m = 7 * t + b + 2
    assert m % 19 != 0, "degenerate (constant-normal) plane index"
    return [((i * m * 13 + t) % 19 - 9) / 10.0 for i in range(dim)]


def _table_planes(t: int, bits: int) -> list[list[float]]:
    """The `bits` hyperplanes of table `t`: b = 0..3 from the legacy
    oracle-pinned mod-19 family (non-degenerate for every (t, b) the
    defaults reach), anything beyond from the large-modulus extended family
    (the mod-19 family has ≤ 18 distinct members per table, so deriving
    more bits from it would duplicate planes)."""
    legacy = [neardup_plane(t, b) for b in range(min(bits, NEARDUP_BITS))]
    ext = [extended_plane(7 * t + b, salt=t + 1)
           for b in range(NEARDUP_BITS, bits)]
    return legacy + ext


def neardup_candidate_pairs(df: DataFrame, id_col: str = "vec_id",
                            vec_col: str = "embedding",
                            n_tables: int = NEARDUP_TABLES,
                            bits: int | None = None,
                            bucket_cap: int = NEARDUP_BUCKET_CAP) -> DataFrame:
    """(a, b) pairs sharing a bucket in ≥1 of `n_tables` hyperplane tables.

    One posexplode emits (id, table_id, bucket); the cap window shuffles on
    the SAME (table_id, bucket) key as the pair self-join (one exchange
    feeds both — mirrors dedup.lsh_candidate_pairs).  The pair relation is
    ids only; vectors are joined back by the caller, so a hot bucket never
    replicates embedding payloads.

    bits=None derives the per-table bit count from corpus size
    (derived_bits: ceil(log2(n/target))) — expected bucket membership stays
    ≈ TARGET_BUCKET at any scale instead of degrading toward n²/2^bits; at
    the sf-scale corpora the derivation lands on the historical
    NEARDUP_BITS=4 the static oracle pins."""
    if bits is None:
        bits = derived_bits(_approx_n(df, id_col))

    def bucket_str(t):
        bs = [f"CASE WHEN round({_dot_sql_str(vec_col, p)}, 6) >= 0 "
              "THEN '1' ELSE '0' END" for p in _table_planes(t, bits)]
        return "concat(" + ", ".join(bs) + ")"

    arr = "array(" + ", ".join(bucket_str(t) for t in range(n_tables)) + ")"
    tb = df.select(F.col(id_col),
                   F.posexplode(F.expr(arr)).alias("table_id", "bucket"))
    if bucket_cap:
        tb = (tb.selectExpr(
                 "*", "row_number() OVER (PARTITION BY table_id, bucket "
                      f"ORDER BY {id_col}) AS _rn")
              .where(f"_rn <= {int(bucket_cap)}").drop("_rn"))
    l = tb.selectExpr(f"{id_col} AS a", "table_id", "bucket")
    r = tb.selectExpr(f"{id_col} AS b", "table_id", "bucket")
    return (l.join(r, ["table_id", "bucket"])
            .where("a < b")
            .select("a", "b").distinct())


def embedding_near_dups(df: DataFrame, threshold: float = 0.9,
                        id_col: str = "vec_id", vec_col: str = "embedding",
                        n_tables: int = NEARDUP_TABLES, bits: int | None = None,
                        bucket_cap: int = NEARDUP_BUCKET_CAP) -> DataFrame:
    """Candidate pairs (multi-table capped LSH) with exact cosine ≥ threshold.
    Exact scoring touches only O(candidates) vector pairs — the corpus-wide
    relation is never pair-joined."""
    cands = neardup_candidate_pairs(df, id_col, vec_col, n_tables, bits, bucket_cap)
    va = df.select(F.col(id_col).alias("a"), F.col(vec_col).alias("va"))
    vb = df.select(F.col(id_col).alias("b"), F.col(vec_col).alias("vb"))
    dot = F.expr("aggregate(zip_with(va, vb, (x, y) -> cast(x as double) * "
                 "cast(y as double)), 0.0D, (acc, x) -> acc + x)")
    cos = dot / (_norm_sql("va") * _norm_sql("vb"))
    return (cands.join(va, "a").join(vb, "b")
            .withColumn("cosine", F.round(cos, 3))
            .filter(F.col("cosine") >= threshold)
            .select("a", "b", "cosine"))
