"""Corpus deduplication operators (training-data-pipeline extensions).

Beyond the reference's entity-level dedup (O-29/O-30), a 100 TB training-data
pipeline needs document-level dedup.  All operators are native-Column
(shingling/minhashing are array expressions inside whole-stage codegen —
no Python on the hot path) and shuffle only on compact keys:

  * exact dedup        — groupBy(md5(text)): shuffle key is 32 bytes/doc
  * minhash signatures — per-doc array math, NO shuffle
  * LSH candidate pairs— shuffle on (band_id, band_key) buckets only;
    pair-join happens within buckets (classic MinHash-LSH band trick, so the
    quadratic pair space is never materialized)
  * jaccard verify     — exact 3-shingle Jaccard only on LSH candidates

Hash function: md5 (identical lowercase-hex semantics in Spark and DuckDB,
so the oracle can replay every step bit-for-bit); min() over hex strings is
the minhash order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

N_HASHES = 8        # minhash signature length
BAND_ROWS = 2       # rows per LSH band -> N_HASHES/BAND_ROWS bands
SHINGLE_W = 3       # words per shingle


def normalized(df: DataFrame, text_col: str = "text") -> DataFrame:
    return df.selectExpr(
        "*", "trim(regexp_replace(lower(" + text_col + "), '\\\\s+', ' ')) "
             "AS _norm")


def exact_dedup_groups(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """Exact duplicate groups by content hash; keeps the minimum id."""
    return (normalized(df, text_col)
            .groupBy(F.md5("_norm").alias("fp"))
            .agg(F.count("*").alias("n_dups"), F.min(id_col).alias("keep_id"))
            .filter(F.col("n_dups") > 1))


def fingerprint(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Per-document content fingerprint (md5 of normalized text)."""
    return normalized(df, text_col).select(F.col(id_col), F.md5("_norm").alias("fp"))


WINNOW_K = 8   # char k-gram size
WINNOW_W = 4   # winnowing window (hashes per window)


def winnow_fingerprints(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text") -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, the MOSS
    scheme): hash every char k-gram of the normalized text, slide a window
    of w consecutive gram-hashes, keep each window's minimum — the selected
    fingerprint set is position-robust (local edits perturb only nearby
    windows), the guarantee exact whole-doc hashing lacks.

    Declarative formulation: the k-gram hash relation is array math per row
    (gram hash = first 8 md5 hex chars as int — replayable in DuckDB via
    ('0x'||h)::BIGINT); a Rabin-Karp *rolling* evaluation is an execution
    optimization the engine could substitute without changing the relation.
    Zero shuffle: fingerprints are per-row arrays until the final explode.
    """
    d = normalized(df, text_col)
    n_grams = F.length("_norm") - (WINNOW_K - 1)
    gram_hash = lambda i: F.conv(
        F.substring(F.md5(F.col("_norm").substr(i, F.lit(WINNOW_K))), 1, 8),
        16, 10).cast("long")
    hashes = F.transform(
        F.sequence(F.lit(1), F.greatest(n_grams, F.lit(0))), gram_hash)
    # materialize the gram-hash array ONCE per row behind a Generate node:
    # CollapseProject would otherwise re-inline `hashes` into EVERY window
    # lambda element — measured O(n_grams^2) md5 calls (96 s for 500 small
    # docs); with the barrier it is O(n_grams·w) (sub-second).
    gh = (d.filter(n_grams >= WINNOW_W)
          .select(F.col(id_col), F.explode(F.array(hashes)).alias("_gh")))
    # sliding-window min in log2(w) shifted zip_with passes (w=4 -> 2):
    # m1[j] = min(g[j], g[j+1]); m2[j] = min(m1[j], m1[j+2]) = min g[j..j+3]
    # — no per-window slice/alloc (that costs O(n·w) array copies).
    g = F.col("_gh")
    sz = F.size(g)
    m1 = F.zip_with(g, F.slice(g, 2, sz - 1), lambda a, b: F.least(a, b))
    m2 = F.zip_with(m1, F.slice(m1, 3, sz - 2), lambda a, b: F.least(a, b))
    win_mins = F.slice(m2, 1, sz - (WINNOW_W - 1))
    return gh.select(F.col(id_col),
                     F.explode(F.array_distinct(win_mins)).alias("fp"))


def _shingles_sql(text_col: str) -> str:
    """3-word shingles as log-shifted zip_with concats, as SQL text.

    NOT the obvious transform(sequence, i -> element_at(words, i+j)): there
    the split() feeding element_at is re-inlined by CollapseProject into
    every per-element lambda call — O(words²) chars per doc, measured 6.7 s
    for 3k short docs at sf0.1.  zip_with evaluates its array arguments
    once per ROW and pairs elements positionally, so this is O(words).
    Out-of-range zip_with padding (null) is dropped by the final slice;
    concat_ws skips nulls so padded entries never corrupt kept shingles.

    SQL text (round 8): a lambda-built Column tree issues ~100 py4j
    round trips per use — per-call plan-build time inside the bench timer
    (guide §1.2); the string parses in one.  The split()/size()
    subexpressions repeat per use site, as a reused Column object would be
    inlined."""
    w = f"split({text_col}, ' ')"
    n = f"size({w})"
    p2 = (f"zip_with({w}, slice({w}, 2, greatest({n} - 1, 0)), "
          "(a, b) -> concat_ws(' ', a, b))")
    p3 = (f"zip_with({p2}, slice({w}, 3, greatest({n} - 2, 0)), "
          "(a, b) -> concat_ws(' ', a, b))")
    return f"slice({p3}, 1, greatest({n} - {SHINGLE_W - 1}, 0))"


# universal-hash family for minhash: h_i(s) = (A_i·base(s) + B_i) mod P with
# base(s) = first 8 md5 hex chars of the shingle as a 32-bit int.  ONE md5
# per shingle instead of N_HASHES (md5 dominates the minhash cost — measured
# 2.8 s → 1.1 s for q22 at sf0.1); A_i odd, B_i spread, P prime > 2^32, all
# products < 2^63 so the arithmetic is exact BIGINT in Spark AND DuckDB
# (bit-identical replay).
MINHASH_P = 4294967311          # smallest prime > 2^32
# A_i: large fixed odd 31-bit multipliers (golden-ratio family) — tiny
# sequential odd A (1,3,5,…) gave highly correlated permutations, skewing
# band-collision probability off the 1-(1-j^r)^b banding curve.  A < 2^31
# keeps A·h + B < 2^63 (exact BIGINT in Spark and DuckDB, bit-identical
# replay); odd keeps each map a bijection mod 2^32 factors.
MINHASH_A = [((2654435761 * (2 * i + 1)) % (1 << 31)) | 1 for i in range(N_HASHES)]
MINHASH_B = [(i * 2654435761) % MINHASH_P for i in range(N_HASHES)]


def minhash_sig_array(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text") -> DataFrame:
    """(id, sig: array<long>) minhash signature as ONE array column — the
    pre-explosion form ``lsh_candidate_pairs`` derives per-row band keys
    from.  Pure array math per row — embarrassingly parallel, zero shuffle.
    The explode(array(…)) is a Generate barrier (same as
    winnow_fingerprints): it materializes the base-hash array ONCE per
    row — CollapseProject would otherwise re-inline the shingling + md5
    into each of the N_HASHES signature lambdas."""
    # SQL text throughout (round 8): the lambda-built Column trees for the
    # base-hash transform and the 8 affine minhash lambdas issued ~400 py4j
    # round trips per call — per-call plan-build time inside the bench
    # timer (guide §1.2).  `L` suffixes pin bigint literals: the products
    # stay < 2^63 (exact, bit-identical to the Column form's lit arithmetic).
    base = ("transform(" + _shingles_sql(text_col) + ", "
            "s -> cast(conv(substring(md5(s), 1, 8), 16, 10) AS bigint))")
    d = (df.selectExpr(id_col, "explode(array(" + base + ")) AS _bh")
         .where("size(_bh) > 0"))
    sig = "array(" + ", ".join(
        f"array_min(transform(_bh, h -> ({a}L * h + {b}L) % {MINHASH_P}L))"
        for a, b in zip(MINHASH_A, MINHASH_B)) + ")"
    return d.selectExpr(id_col, sig + " AS sig")


def minhash_signatures(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """(id, sig_idx 0..N-1, minhash): the exploded registry/oracle surface
    of ``minhash_sig_array``."""
    return minhash_sig_array(df, id_col, text_col).select(
        F.col(id_col), F.posexplode("sig").alias("sig_idx", "minhash"))


BUCKET_CAP = 64     # max members joined per (band_id, band_key) bucket


def lsh_candidate_pairs(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text",
                        bucket_cap: int = BUCKET_CAP) -> DataFrame:
    """Docs sharing ≥1 LSH band bucket → candidate pairs (a < b).

    Bucket-size guard: a bucket of m identical/near-identical docs would emit
    m² pairs per band — on a boilerplate-heavy web corpus a single template
    shared by 10^6 pages would OOM one reducer.  Each bucket therefore joins
    only its `bucket_cap` smallest ids (deterministic); a bucket that big is
    the degenerate case EXACT dedup (exact_dedup_groups, 32-byte shuffle
    keys) is meant to collapse before near-dup LSH runs — the cap bounds the
    worst case at cap² per bucket instead of m².  The cap window shuffles on
    the same (band_id, band_key) key as the join itself: no extra exchange.
    """
    # Band keys are derived PER ROW from the signature array (round 8):
    # band b's members are exactly sig[b*BAND_ROWS .. (b+1)*BAND_ROWS-1],
    # and md5(concat_ws('|', sort_array(slice))) equals the old
    # groupBy(id, band_id) + sort_array(collect_list(minhash)) formulation
    # value-for-value — so the corpus-wide explode + hash-aggregate
    # EXCHANGE that used to open the LSH chain is gone (guide §2.4: remove
    # shuffles outright); the first shuffle is now the bucket-cap window on
    # (band_id, band_key), the same key the pair join uses.
    sig = minhash_sig_array(df, id_col, text_col)
    band_structs = "array(" + ", ".join(
        f"named_struct('band_id', {b}, 'band_key', "
        f"md5(concat_ws('|', transform(sort_array(slice(sig, "
        f"{1 + b * BAND_ROWS}, {BAND_ROWS})), x -> cast(x AS string)))))"
        for b in range(N_HASHES // BAND_ROWS)) + ")"
    bands = (sig.selectExpr(id_col, "explode(" + band_structs + ") AS _b")
             .selectExpr(id_col, "_b.band_id AS band_id",
                         "_b.band_key AS band_key"))
    if bucket_cap:
        bands = (bands.selectExpr(
                    "*", "row_number() OVER (PARTITION BY band_id, band_key "
                         f"ORDER BY {id_col}) AS _rn")
                 .where(f"_rn <= {bucket_cap}").drop("_rn"))
    l = bands.selectExpr(f"{id_col} AS a", "band_id", "band_key")
    r = bands.selectExpr(f"{id_col} AS b", "band_id", "band_key")
    return (l.join(r, ["band_id", "band_key"])
            .where("a < b")
            .select("a", "b").distinct())


SIMHASH_BITS = 32


def simhash(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """32-bit SimHash per document, fully native (zero Python, zero shuffle):
    word hash = first 8 md5 hex chars as int (identical in Spark `conv` and
    DuckDB '0x'-cast); per-bit majority vote over the word multiset; tie→0.
    Equal simhash = near-dup bucket; Hamming-close pairs via bucket join on
    bit-band substrings (same band trick as MinHash-LSH).

    ONE traversal, md5 once per word; the ±1 bit extraction happens INSIDE
    the aggregate lambda (round 8) instead of materializing a 32-element
    vote vector per word first — same integer sums, ~45% less wall
    (A/B 0.52→0.28 s at sf0.1) because the n×32 intermediate arrays are
    never allocated.  Built as one parsed SQL expression (one py4j round
    trip; the lambda-built Column tree cost ~0.1 s per call)."""
    masks = ",".join(f"{1 << b}L" for b in range(SIMHASH_BITS - 1, -1, -1))
    sim = (
        "concat_ws('', transform("
        "aggregate("
        f"transform(split(lower({text_col}), ' '), "
        "w -> cast(conv(substring(md5(w), 1, 8), 16, 10) as bigint)), "
        f"array_repeat(0, {SIMHASH_BITS}), "
        f"(acc, h) -> zip_with(acc, array({masks}), "
        "(a, m) -> a + CASE WHEN (h & m) != 0 THEN 1 ELSE -1 END)), "
        "v -> CASE WHEN v > 0 THEN '1' ELSE '0' END)) AS simhash")
    return df.selectExpr(id_col, sim)


SIMHASH_BANDS = 4   # 32 bits -> 4 bands of 8; Hamming<=3 ==> >=1 band equal


def simhash_bands(sh: DataFrame, id_col: str = "doc_id",
                  carry: tuple[str, ...] = ()) -> DataFrame:
    """(id, band_id, band_key) bit-band relation of a (id, simhash) frame —
    the candidate-generator key shared by the batch near-dup join and the
    streaming maintenance fold.  `carry` propagates extra columns (e.g. the
    simhash itself, so the streaming fold's Hamming verify needs no second
    scan of the history)."""
    arr = "array(" + ", ".join(f"substring(simhash, {1 + 8 * b}, 8)"
                               for b in range(SIMHASH_BANDS)) + ")"
    return sh.select(
        F.col(id_col), *[F.col(c) for c in carry],
        F.posexplode(F.expr(arr)).alias("band_id", "band_key"))


def simhash_near_dups(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text", max_hamming: int = 3,
                      bucket_cap: int = BUCKET_CAP) -> DataFrame:
    """Hamming-close pairs via simhash bit-band buckets.

    Pigeonhole: a pair with Hamming distance ≤ SIMHASH_BANDS-1 agrees on at
    least one of the SIMHASH_BANDS bit-band substrings, so the band join is
    a lossless candidate generator for max_hamming ≤ 3; exact Hamming
    (XOR + bit_count on the 32-bit value) verifies.  Same scale shape as
    MinHash-LSH: shuffle on (band_id, band_key) only, membership cap per
    bucket, pair relation is ids before the verify join-back."""
    if max_hamming > SIMHASH_BANDS - 1:
        raise ValueError(
            f"max_hamming={max_hamming} breaks the pigeonhole losslessness "
            f"of the {SIMHASH_BANDS}-band generator (complete only for "
            f"Hamming <= {SIMHASH_BANDS - 1}); raise SIMHASH_BANDS instead")
    # The simhash travels WITH the band rows (round 8, same `carry` shape
    # the streaming fold uses): sim_a/sim_b come out of the candidate join
    # itself, so both verify join-backs to the (id, simhash) relation are
    # gone, and with them the localCheckpoint that existed only because sh
    # fed three consumers (guide §2.4).  distinct over (a, b, sim_a, sim_b)
    # dedups exactly like (a, b): the simhash is a function of the id.
    # With the bucket-cap window present the l/r self-join reuses the
    # window's exchange (one corpus md5-vote pass, plan-asserted); the
    # uncapped path keeps the eager boundary — without the window exchange
    # each join side would recompute the vote pass.
    sh = simhash(df, id_col, text_col)
    if not bucket_cap:
        sh = sh.localCheckpoint()
    bands = simhash_bands(sh, id_col, carry=("simhash",))
    if bucket_cap:
        bands = (bands.selectExpr(
                    "*", "row_number() OVER (PARTITION BY band_id, band_key "
                         f"ORDER BY {id_col}) AS _rn")
                 .where(f"_rn <= {bucket_cap}").drop("_rn"))
    l = bands.selectExpr(f"{id_col} AS a", "simhash AS sim_a",
                         "band_id", "band_key")
    r = bands.selectExpr(f"{id_col} AS b", "simhash AS sim_b",
                         "band_id", "band_key")
    cands = (l.join(r, ["band_id", "band_key"])
             .where("a < b")
             .select("a", "b", "sim_a", "sim_b").distinct())
    ham = ("cast(bit_count(cast(conv(sim_a, 2, 10) AS bigint) ^ "
           "cast(conv(sim_b, 2, 10) AS bigint)) AS bigint)")
    return (cands.selectExpr("*", ham + " AS hamming")
            .where(f"hamming <= {max_hamming}")
            .select("a", "b", "hamming"))


def jaccard_pairs(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                  threshold: float = 0.5) -> DataFrame:
    """Exact 3-word-shingle Jaccard on LSH candidates only."""
    # EAGER localCheckpoint, not lazy persist: the candidate relation feeds
    # THREE consumers (both sides of the doc-filter union + the
    # intersection join).  A lazy persist lets parallel downstream stages
    # race the cache fill and recompute the minhash chain (the corpus-wide
    # 8×md5-per-shingle map — the most expensive step here) up to 3×:
    # measured 21.8 s vs 12.4 s at sf0.1.  At cluster scale this boundary
    # is a StageCheckpoint parquet snapshot instead.
    cands = lsh_candidate_pairs(df, id_col, text_col).localCheckpoint()
    # only docs that appear in a candidate pair ever contribute a shingle:
    # semi-join the corpus down FIRST, so the materialized shingle relation
    # is O(candidate docs), not O(corpus tokens) — at 100 TB the candidate
    # set is orders of magnitude smaller than the corpus (most docs share
    # no LSH bucket with anything).  `need` is not deduped: a left-semi
    # probe side tolerates duplicate keys, so the distinct exchange bought
    # nothing (guide §2.4 — distinct on data used only as a semi filter).
    need = (cands.selectExpr(f"a AS {id_col}")
            .unionByName(cands.selectExpr(f"b AS {id_col}")))
    # per-doc DISTINCT shingle set, kept as ONE array row per doc (round 8):
    # shingles only repeat within a document, so array_distinct per row is
    # the whole dedup.  The set stays un-exploded — intersection and union
    # sizes are per-pair array math below, so the exploded (id, shingle)
    # relation of the earlier shape (its (b, shingle) shuffle join, its
    # groupBy(a,b) count, the separate sizes aggregate and its two
    # join-backs) is gone entirely (guide §2.4: remove shuffles outright).
    # Shuffled bytes per pair participation are the same either way — the
    # doc's shingle set travels once per side — just in one row, not |sh|.
    sh = (df.join(need, id_col, "left_semi")
          .selectExpr(id_col, "array_distinct(" + _shingles_sql(text_col)
                      + ") AS _sh")
          .localCheckpoint())
    # exact Jaccard per candidate pair: |A∩B| via array_intersect over the
    # distinct sets — identical counts to the old (b, shingle) equi-join +
    # count(*), and size(_sha)/size(_shb) are exactly the old per-doc
    # distinct-shingle counts.  `inter > 0` keeps the old inner-join
    # semantics (zero-overlap pairs never surfaced) for ANY threshold.
    return (cands
            .join(sh.selectExpr(f"{id_col} AS a", "_sh AS _sha"), "a")
            .join(sh.selectExpr(f"{id_col} AS b", "_sh AS _shb"), "b")
            .selectExpr("*", "size(array_intersect(_sha, _shb)) AS inter")
            .where("inter > 0")
            .selectExpr("*", "round(inter / (size(_sha) + size(_shb) - inter),"
                             " 4) AS jaccard")
            .where(f"jaccard >= {float(threshold)!r}D")
            .select("a", "b", "jaccard"))


def curate_corpus(df: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text",
                  jaccard_threshold: float = 0.5) -> DataFrame:
    """End-to-end training-data curation — the daily-driver chain:

      1. quality gate  — textstats.quality_score keep flag (length/token
         floors), pure codegen filter;
      2. exact dedup   — keep the MIN id of every content-hash group
         (32-byte shuffle keys; collapses template clusters before LSH);
      3. near-dup pass — MinHash-LSH candidates + exact-Jaccard verify on
         the survivors; every verified pair (a < b, jaccard ≥ threshold)
         drops its larger id.

    Each stage shrinks the corpus the next stage pays for — at 100 TB the
    LSH stage runs on the exact-deduped survivors only.  Returns the kept
    docs as (id, n_chars, n_tokens)."""
    # Round-8 shape (identical survivors, two joins fewer): the quality
    # gate is a PER-ROW predicate — applying it as a filter instead of a
    # semi-join against quality_score's output removes a broadcast join and
    # a second corpus scan (the predicate below is exactly quality_score's
    # `keep`: n_tokens >= 10 AND n_chars >= 50).  The exact-dedup winner is
    # kept by running the min-id window DIRECTLY on the filtered corpus
    # (ids are unique, so rank-1-per-fp rows ARE the winner ids the old
    # semi-join-back selected) — one window exchange instead of
    # fingerprint-scan + window + join-back.
    # each curation stage is a materialization boundary (localCheckpoint
    # here; StageCheckpoint parquet at cluster scale): the exact-dedup
    # survivors feed the LSH chain FOUR times (minhash, candidate
    # semi-join, shingle sides) plus the final anti-join — recomputing the
    # quality+window lineage per consumer cost 29.5 s vs 9 s at sf0.1
    kept = (normalized(
                df.where(f"size(split(lower({text_col}), ' ')) >= 10 "
                         f"AND length({text_col}) >= 50"), text_col)
            .selectExpr("*", "md5(_norm) AS _fp")
            .selectExpr("*", "row_number() OVER (PARTITION BY _fp "
                             f"ORDER BY {id_col}) AS _rn")
            .where("_rn = 1")
            .drop("_fp", "_rn", "_norm")
            .localCheckpoint())
    drop = (jaccard_pairs(kept, id_col, text_col, threshold=jaccard_threshold)
            .selectExpr(f"b AS {id_col}").distinct())
    return (kept.join(drop, id_col, "left_anti")
            .selectExpr(id_col,
                        f"cast(length({text_col}) AS bigint) AS n_chars",
                        f"cast(size(split({text_col}, ' ')) AS bigint) "
                        "AS n_tokens"))
