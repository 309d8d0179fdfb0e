"""Similarity search over the embeddings table (array<float>, dim 64).

Brute-force cosine top-k is the correctness baseline; the LSH-bucketed
variant (8 deterministic random hyperplanes → sign-bit bucket) is the
scale path — at 100 TB the bucket id becomes the shuffle/partition key and
each bucket is searched independently (classic ANN blocking). All dot
products are sequential-fold doubles (functions.portable) so the DuckDB
oracle matches bit-for-bit. (An unrolled-literal variant was measured
and REJECTED: 1024-term expression trees fall out of whole-stage
codegen via Janino method-size limits and run 3-7x slower than the
interpreted fold — see PERF.md.)

The testdata embeddings are near-isotropic (max pairwise cos ≈ 0.51), so
thresholds here are tuned to produce non-trivial result sets, and LSH
recall vs. brute force is intentionally observable in the outputs.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nshm2022db_spark.functions.portable import (
    duck_dot,
    duck_hyperplane_dot,
    duck_sqdist,
    spark_dot,
    spark_hyperplane_dot,
)
from nshm2022db_spark.registry import register
from nshm2022db_spark.sources import read_table, spread

DIM = 64
N_PLANES = 8
COS_TAU = 0.3
KNN_K = 5
N_QUERIES = 5  # vec_id < 5 are the query vectors


def _spark_bucket(vec: str) -> str:
    bits = " + ".join(
        f"(CASE WHEN {spark_hyperplane_dot(vec, j, DIM)} > 0 THEN {1 << j} ELSE 0 END)"
        for j in range(N_PLANES)
    )
    return f"({bits})"


def _duck_bucket(vec: str) -> str:
    bits = " + ".join(
        f"(CASE WHEN {duck_hyperplane_dot(vec, j, DIM)} > 0 THEN {1 << j} ELSE 0 END)"
        for j in range(N_PLANES)
    )
    return f"({bits})"


# -- occupancy-constant blocking for the all-pairs dedup ---------------------
# A FIXED plane count makes bucket occupancy grow linearly with the corpus,
# so same-bucket candidate PAIRS grow quadratically (caught by the sf0.1->sf1
# scale ladder: exponent 1.79 before this fix). Instead: always compute
# DEDUP_MAX_BITS sign bits, then keep the low `bits` where the bucket count
# 2^bits is chosen from the corpus cardinality so expected occupancy stays
# ~DEDUP_TARGET_OCC. Candidate pairs are then n*occ/2 — LINEAR in n. The
# bucket-count rule is a literal integer CASE chain (no float log2) so both
# engines derive the identical blocking; for corpora <= 6144 vectors it
# resolves to 256 buckets == the original 8-plane bucket (low bits of the
# full bucket are planes 0..7), keeping small-sf results byte-identical.

DEDUP_MAX_BITS = 16
DEDUP_TARGET_OCC = 24


def _nbuckets_case_sql(count_col: str) -> str:
    """Portable (Spark SQL == DuckDB) integer CASE chain mapping corpus
    cardinality to a power-of-two bucket count with ~DEDUP_TARGET_OCC
    expected rows per bucket. Literal thresholds, no engine float math."""
    branches = " ".join(
        f"WHEN {count_col} <= {DEDUP_TARGET_OCC * (1 << bits)} THEN {1 << bits}"
        for bits in range(N_PLANES, DEDUP_MAX_BITS)
    )
    return f"(CASE {branches} ELSE {1 << DEDUP_MAX_BITS} END)"


# Real embedding corpora are NOT uniform over sign-buckets (clustered data
# concentrates sign patterns), so a count-derived global bucket width still
# leaves hot buckets whose internal pair count is quadratic in their
# occupancy. Second level: buckets over DEDUP_SPLIT_CAP are refined by the
# NEXT plane bits (an LSH-trie depth step) with a split factor chosen from
# the observed occupancy so refined occupancy lands back near 2×target.
# Both levels are deterministic integer CASE chains on counts, so the DuckDB
# oracle derives the identical blocking. Splitting a hot bucket can separate
# a mid-similarity pair whose members disagree on an extended bit — the
# standard LSH recall trade; near-identical vectors agree on almost all sign
# bits and stay together.

DEDUP_SPLIT_CAP = 4 * DEDUP_TARGET_OCC  # refine buckets with occ > 96
_SPLIT_TGT = 2 * DEDUP_TARGET_OCC       # refined occupancy aim: occ/split <= 48


def _split_case_sql(occ_col: str) -> str:
    """Split factor (power of two) for a bucket of occupancy `occ`:
    1 below the cap, else the smallest 2^k with occ/2^k <= 2*target."""
    branches = [f"WHEN {occ_col} <= {DEDUP_SPLIT_CAP} THEN 1"]
    branches += [
        f"WHEN {occ_col} <= {_SPLIT_TGT * (1 << k)} THEN {1 << k}"
        for k in range(2, DEDUP_MAX_BITS - N_PLANES + 1)
    ]
    return f"(CASE {' '.join(branches)} ELSE {1 << (DEDUP_MAX_BITS - N_PLANES)} END)"


def _maxsplit_case_sql(count_col: str) -> str:
    """Largest split usable without exceeding the {DEDUP_MAX_BITS} computed
    plane bits: (1 << DEDUP_MAX_BITS) / nbuckets, as literals so neither
    engine does runtime division."""
    branches = " ".join(
        f"WHEN {count_col} <= {DEDUP_TARGET_OCC * (1 << bits)} "
        f"THEN {1 << (DEDUP_MAX_BITS - bits)}"
        for bits in range(N_PLANES, DEDUP_MAX_BITS)
    )
    return f"(CASE {branches} ELSE 1 END)"


def _spark_bucket_full(vec: str) -> str:
    bits = " + ".join(
        f"(CASE WHEN {spark_hyperplane_dot(vec, j, DIM)} > 0 THEN {1 << j} ELSE 0 END)"
        for j in range(DEDUP_MAX_BITS)
    )
    return f"({bits})"


def _duck_bucket_full(vec: str) -> str:
    bits = " + ".join(
        f"(CASE WHEN {duck_hyperplane_dot(vec, j, DIM)} > 0 THEN {1 << j} ELSE 0 END)"
        for j in range(DEDUP_MAX_BITS)
    )
    return f"({bits})"


def _duck_cos(a: str, b: str) -> str:
    return f"{duck_dot(a, b)} / (sqrt({duck_dot(a, a)}) * sqrt({duck_dot(b, b)}))"


@register(
    "knn_bruteforce",
    f"""WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < {N_QUERIES}),
        scored AS (
            SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
                   {_duck_cos('q.embedding', 'e.embedding')} AS cos
            FROM q JOIN embeddings e ON e.vec_id <> q.vec_id),
        ranked AS (
            SELECT query_id, neighbor_id, cos,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY cos DESC, neighbor_id) AS rank
            FROM scored)
        SELECT query_id, neighbor_id, ROUND(cos, 6) AS cos, rank
        FROM ranked WHERE rank <= {KNN_K}""",
)
def knn_bruteforce(spark: SparkSession, sf: str) -> DataFrame:
    """Exact cosine top-k: broadcast the (small) query set against the full
    corpus, one window per query for the top-k. The corpus side is a single
    scan — this is the pattern that saturates a cluster linearly. Norms are
    hoisted out of the per-pair expression (_with_norm) — one fold per row
    instead of three per pair, same doubles."""
    emb = _with_norm(read_table(spark, sf, "embeddings"), "embedding", "enorm")
    q = F.broadcast(
        emb.filter(F.col("vec_id") < N_QUERIES).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qv"),
            F.col("enorm").alias("qnorm"),
        )
    )
    scored = (
        emb.alias("e")
        .join(q, F.col("e.vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("e.vec_id").alias("neighbor_id"),
            (
                F.expr(spark_dot("qv", "embedding"))
                / (F.col("qnorm") * F.col("enorm"))
            ).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= KNN_K)
        .select("query_id", "neighbor_id", F.round(F.col("cos"), 6).alias("cos"), "rank")
    )


# Lazy bucket: with nb = 256·m, fb % nb == low8 + 256·(high8 % m)
# (low8 < 256), so a CASE on nb <= 256 skips the 8 extra plane dots
# entirely on small corpora — both engines evaluate CASE branches
# lazily, keeping the small-sf cost identical to the original 8-plane
# bucket while the wide path activates only when the corpus needs it.


def _duck_high8(vec: str) -> str:
    bits = " + ".join(
        f"(CASE WHEN {duck_hyperplane_dot(vec, j, DIM)} > 0 THEN {1 << (j - N_PLANES)} ELSE 0 END)"
        for j in range(N_PLANES, DEDUP_MAX_BITS)
    )
    return f"({bits})"


def _duck_adaptive_bucketed() -> str:
    """Shared oracle CTE prefix: embeddings with an occupancy-constant
    adaptive bucket (count-derived width, low bits of the
    {DEDUP_MAX_BITS}-plane sign bucket) plus the active bucket count nb."""
    return f"""n AS (SELECT count(*) AS c FROM embeddings),
        b0 AS (SELECT vec_id, embedding, {_nbuckets_case_sql('c')} AS nb
               FROM embeddings, n),
        b AS (SELECT vec_id, embedding, nb,
                     CASE WHEN nb <= 256 THEN {_duck_bucket('embedding')}
                          ELSE {_duck_bucket('embedding')}
                               + 256 * ({_duck_high8('embedding')} % (nb // 256))
                     END AS bucket
              FROM b0)"""


def _nbuckets_py(c: int) -> int:
    """Python twin of `_nbuckets_case_sql` — identical thresholds, pinned
    against the SQL chain by test."""
    for bits in range(N_PLANES, DEDUP_MAX_BITS):
        if c <= DEDUP_TARGET_OCC * (1 << bits):
            return 1 << bits
    return 1 << DEDUP_MAX_BITS


def _spark_adaptive_bucketed(spark: SparkSession, sf: str) -> DataFrame:
    """Spark twin of `_duck_adaptive_bucketed`: (vec_id, embedding, nb,
    bucket, enorm), bucket computed once for corpus and queries alike.
    The corpus count is taken driver-side (one metadata-cheap scalar job,
    the repo's sanctioned collect shape) so nb is a LITERAL: on small
    corpora the bucket expression constant-folds to exactly the original
    8-plane bucket — no count re-computation per plan branch, no lazy
    CASE left in the hot projection."""
    emb = read_table(spark, sf, "embeddings")
    nb = _nbuckets_py(emb.count())
    if nb <= 256:
        bucket = _spark_bucket("embedding")
    else:
        # full16 % nb only depends on the first log2(nb/256) extra
        # planes (higher powers vanish mod a power of two), so emit
        # EXACTLY those — e.g. 10 plane dots for nb=1024, not 16. The
        # generated sum is < nb/256 by construction, so no modulo.
        extra = (nb // 256).bit_length() - 1
        high = " + ".join(
            f"(CASE WHEN {spark_hyperplane_dot('embedding', j, DIM)} > 0 "
            f"THEN {1 << (j - N_PLANES)} ELSE 0 END)"
            for j in range(N_PLANES, N_PLANES + extra)
        )
        bucket = f"{_spark_bucket('embedding')} + 256 * ({high})"
    return _with_norm(
        emb.withColumn("nb", F.lit(nb)).withColumn("bucket", F.expr(bucket)),
        "embedding",
        "enorm",
    )


@register(
    "knn_lsh_bucketed",
    f"""WITH {_duck_adaptive_bucketed()},
        q AS (SELECT vec_id, embedding, bucket FROM b WHERE vec_id < {N_QUERIES}),
        scored AS (
            SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
                   {_duck_cos('q.embedding', 'e.embedding')} AS cos
            FROM q JOIN b e ON e.bucket = q.bucket AND e.vec_id <> q.vec_id),
        ranked AS (
            SELECT query_id, neighbor_id, cos,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY cos DESC, neighbor_id) AS rank
            FROM scored)
        SELECT query_id, neighbor_id, ROUND(cos, 6) AS cos, rank
        FROM ranked WHERE rank <= {KNN_K}""",
)
def knn_lsh_bucketed(spark: SparkSession, sf: str) -> DataFrame:
    """ANN via random-hyperplane LSH with an occupancy-constant bucket:
    the count-derived width (same integer CASE chain as the embedding
    dedup) keeps expected bucket occupancy — the per-query candidate
    count — ~{DEDUP_TARGET_OCC} at ANY corpus size, where the previous
    fixed 2^{N_PLANES} bucket made per-query work grow linearly with the
    corpus (asymptotically no better than brute force). For corpora
    ≤ {DEDUP_TARGET_OCC * 256} vectors the chain resolves to 256 buckets
    == the original 8-plane bucket, so small-sf results are unchanged.
    At scale the bucket id is the shuffle key — no pairwise work across
    buckets. Recall per query is the probability all {KNN_K} true
    neighbors share the (narrower) bucket — the width/recall trade is
    the multiprobe extension's job (it probes the weakest-margin
    neighbors among the ACTIVE bits)."""
    emb = _spark_adaptive_bucketed(spark, sf)
    q = F.broadcast(
        emb.filter(F.col("vec_id") < N_QUERIES).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qv"),
            F.col("enorm").alias("qnorm"),
            F.col("bucket").alias("qbucket"),
        )
    )
    scored = (
        emb.alias("e")
        .join(q, (F.col("e.bucket") == F.col("qbucket")) & (F.col("e.vec_id") != F.col("query_id")))
        .select(
            "query_id",
            F.col("e.vec_id").alias("neighbor_id"),
            (
                F.expr(spark_dot("qv", "embedding"))
                / (F.col("qnorm") * F.col("enorm"))
            ).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= KNN_K)
        .select("query_id", "neighbor_id", F.round(F.col("cos"), 6).alias("cos"), "rank")
    )


@register(
    "dedup_embedding_cosine",
    f"""WITH n AS (SELECT count(*) AS c FROM embeddings),
        f AS (SELECT vec_id, embedding, {_duck_bucket_full('embedding')} AS fb,
                     {_nbuckets_case_sql('c')} AS nb1, {_maxsplit_case_sql('c')} AS ms
              FROM embeddings, n),
        l AS (SELECT *, fb % nb1 AS l1 FROM f),
        o AS (SELECT *, count(*) OVER (PARTITION BY l1) AS occ FROM l),
        b AS (SELECT vec_id, embedding,
                     l1 + nb1 * ((fb // nb1) % LEAST({_split_case_sql('occ')}, ms)) AS bucket
              FROM o),
        pairs AS (
            SELECT a.vec_id AS vec_a, b2.vec_id AS vec_b,
                   {_duck_cos('a.embedding', 'b2.embedding')} AS cos
            FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id)
        SELECT vec_a, vec_b, ROUND(cos, 6) AS cos
        FROM pairs WHERE cos >= {COS_TAU}""",
)
def dedup_embedding_cosine(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding near-dup pairs: adaptive LSH-bucket blocking, then exact
    cosine ≥ τ on same-bucket candidates — never n² over the corpus.

    Two-level occupancy control (both levels integer-deterministic, so the
    DuckDB oracle derives the identical blocking):
      L1: keep the low bits of a {DEDUP_MAX_BITS}-plane sign bucket, bucket
          count chosen from count(*) for ~{DEDUP_TARGET_OCC} expected
          occupancy — candidate pairs grow LINEARLY with the corpus (a
          fixed 2^{N_PLANES} bucket was quadratic; scale-ladder exponent
          1.79 before this fix).
      L2: observed hot buckets (occ > {DEDUP_SPLIT_CAP}; clustered
          embeddings concentrate sign patterns) are refined by the next
          plane bits with an occupancy-derived split — the LSH-trie depth
          step — bounding per-bucket pair work under real skew.
    Plan: one broadcast of the 1-row count, one exchange on l1 for the
    occupancy window, one exchange on the refined bucket for the pair
    join. At 100 TB raise DEDUP_MAX_BITS (plane bits are the only
    capacity knob; {DEDUP_MAX_BITS} bits carry ~{DEDUP_TARGET_OCC} ×
    2^{DEDUP_MAX_BITS} ≈ 1.5M vectors before refinement saturates)."""
    emb = read_table(spark, sf, "embeddings")
    n = emb.agg(F.count("*").alias("c"))
    # the 16 hyperplane dots + norm run pre-exchange on the scan: spread
    # the corpus side (r15; the 1-row count side stays unspread)
    emb = _with_norm(
        spread(emb).crossJoin(F.broadcast(n))
        .withColumn("fb", F.expr(_spark_bucket_full("embedding")))
        .withColumn("nb1", F.expr(_nbuckets_case_sql("c")))
        .withColumn("ms", F.expr(_maxsplit_case_sql("c")))
        .withColumn("l1", F.expr("fb % nb1"))
        .withColumn("occ", F.count("*").over(Window.partitionBy("l1")))
        .withColumn(
            "bucket",
            F.expr(
                f"l1 + nb1 * ((fb div nb1) % LEAST({_split_case_sql('occ')}, ms))"
            ),
        )
        .drop("c", "fb", "nb1", "ms", "l1", "occ"),
        "embedding",
        "enorm",
    )
    # Stage the blocked relation ONCE: Catalyst plans a self-join's two
    # sides independently (no common-subplan reuse; verified in the
    # executed plan — zero ReusedExchange), so without this the 16
    # hyperplane dots + occupancy window run twice over the corpus.
    # localCheckpoint materializes (vec_id, embedding, bucket, enorm) and
    # both join sides scan it — the small-sf analog of the at-scale
    # design, where the bucketed table is WRITTEN and then joined.
    emb = emb.localCheckpoint()
    pairs = (
        emb.alias("a")
        .join(
            emb.alias("b"),
            (F.col("a.bucket") == F.col("b.bucket")) & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            (
                F.expr(spark_dot("a.embedding", "b.embedding"))
                / (F.col("a.enorm") * F.col("b.enorm"))
            ).alias("cos"),
        )
    )
    return pairs.filter(F.col("cos") >= COS_TAU).select(
        "vec_a", "vec_b", F.round(F.col("cos"), 6).alias("cos")
    )


# ---------------------------------------------------------------------------
# multi-probe LSH — recall extension of the one-shot bucket join
# ---------------------------------------------------------------------------

MULTIPROBE_FLIPS = 2  # probe the base bucket + the 2 weakest-margin flips


# Margin arrays cover ALL computed planes; the flip generators then keep
# only the ACTIVE bits ((1 << j) < nb), so multiprobe adapts with the
# count-derived bucket width and degrades to the original 8-plane probing
# on small corpora.


def _spark_plane_dots(vec: str) -> str:
    return "array(" + ", ".join(
        spark_hyperplane_dot(vec, j, DIM) for j in range(DEDUP_MAX_BITS)
    ) + ")"


def _duck_plane_dots(vec: str) -> str:
    return "[" + ", ".join(
        duck_hyperplane_dot(vec, j, DIM) for j in range(DEDUP_MAX_BITS)
    ) + "]"


@register(
    "knn_lsh_multiprobe",
    f"""WITH {_duck_adaptive_bucketed()},
        q AS (SELECT vec_id, embedding, bucket, nb,
                     {_duck_plane_dots('embedding')} AS pd
              FROM b WHERE vec_id < {N_QUERIES}),
        flips AS (
            SELECT vec_id, bucket, j.j, abs(pd[j.j + 1]) AS margin
            FROM q, (SELECT unnest(range(0, {DEDUP_MAX_BITS})) AS j) j
            WHERE (1 << j.j) < nb),
        ranked_flips AS (
            SELECT vec_id, bucket, j,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY margin, j) AS wk
            FROM flips),
        probes AS (
            SELECT vec_id, bucket AS probe FROM q
            UNION
            SELECT vec_id, xor(bucket, 1 << j) AS probe
            FROM ranked_flips WHERE wk <= {MULTIPROBE_FLIPS}),
        cand AS (
            SELECT DISTINCT q.vec_id AS query_id, q.embedding AS qv,
                   e.vec_id AS neighbor_id, e.embedding AS ev
            FROM probes p
            JOIN q ON q.vec_id = p.vec_id
            JOIN b e ON e.bucket = p.probe AND e.vec_id <> p.vec_id),
        scored AS (
            SELECT query_id, neighbor_id, {_duck_cos('qv', 'ev')} AS cos
            FROM cand),
        ranked AS (
            SELECT query_id, neighbor_id, cos,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY cos DESC, neighbor_id) AS rank
            FROM scored)
        SELECT query_id, neighbor_id, ROUND(cos, 6) AS cos, rank
        FROM ranked WHERE rank <= {KNN_K}""",
)
def knn_lsh_multiprobe(spark: SparkSession, sf: str) -> DataFrame:
    """Multi-probe LSH: besides its own bucket, each query probes the
    buckets reached by flipping its {MULTIPROBE_FLIPS} weakest hyperplane
    bits (smallest |margin| — the flips most likely to hide a true
    neighbor). Recovers most of the recall lost to bucket boundaries for
    ~{MULTIPROBE_FLIPS + 1}× the candidate volume, with the same
    shuffle-by-bucket shape — the standard alternative to maintaining
    multiple independent hash tables at 100 TB. With the
    occupancy-constant adaptive bucket, flip candidates are restricted
    to the ACTIVE bits ((1 << j) < nb), so probing tracks the
    count-derived width; on small corpora (nb = 256) this degrades to
    exactly the original 8-plane behavior."""
    emb = _spark_adaptive_bucketed(spark, sf)
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        F.col("enorm").alias("qnorm"),
        F.col("bucket").alias("qbucket"),
        F.col("nb").alias("qnb"),
        F.expr(_spark_plane_dots("embedding")).alias("pd"),
    )
    flips = (
        q.select(
            "query_id", "qbucket", "qnb", F.posexplode(F.col("pd")).alias("j", "d")
        )
        .filter(F.expr("shiftleft(1, j) < qnb"))
        .select("query_id", "qbucket", "j", F.abs(F.col("d")).alias("margin"))
    )
    wf = Window.partitionBy("query_id").orderBy("margin", "j")
    flipped = (
        flips.withColumn("wk", F.row_number().over(wf))
        .filter(F.col("wk") <= MULTIPROBE_FLIPS)
        .select(
            "query_id",
            F.expr("qbucket ^ shiftleft(1, j)").alias("probe"),
        )
    )
    probes = (
        q.select("query_id", F.col("qbucket").alias("probe"))
        .unionByName(flipped)
        .distinct()
    )
    cand = (
        F.broadcast(probes.join(q, "query_id"))
        .join(
            emb.alias("e"),
            (F.col("e.bucket") == F.col("probe"))
            & (F.col("e.vec_id") != F.col("query_id")),
        )
        .select(
            "query_id",
            "qv",
            "qnorm",
            F.col("e.vec_id").alias("neighbor_id"),
            F.col("e.embedding").alias("ev"),
            F.col("e.enorm").alias("enorm"),
        )
        # no dedup needed: a corpus vector lives in exactly one bucket and
        # the probe set is distinct buckets, so (query, neighbor) pairs
        # are unique by construction (the oracle's DISTINCT is a no-op)
    )
    scored = cand.select(
        "query_id",
        "neighbor_id",
        (
            F.expr(spark_dot("qv", "ev")) / (F.col("qnorm") * F.col("enorm"))
        ).alias("cos"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= KNN_K)
        .select("query_id", "neighbor_id", F.round(F.col("cos"), 6).alias("cos"), "rank")
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — the scale path beyond one-shot LSH
# ---------------------------------------------------------------------------

IVF_C_LO = 100  # seed-centroid vectors: vec_id in [IVF_C_LO, IVF_C_LO + nlist)
IVF_NPROBE = 2

# IVF list count follows the classic sqrt balance: assignment costs
# n·nlist and probing costs nprobe·n/nlist, so nlist ∝ sqrt(n) keeps both
# sides sub-linear per growth step — a FIXED nlist would make list length
# (per-query candidates) grow linearly with the corpus, the same
# fixed-width hazard class the scale ladder exposed in the blocking
# dedups. Thresholds are 96·nlist² (literal ints, identical on both
# engines); sf ≤ 0.1 resolves to the original 8 lists, so small-sf
# results are unchanged. 128 is the knob's ceiling here — a real corpus
# retrains with nlist 10⁴-10⁵ and more k-means rounds.
IVF_NLIST_TIERS = [(6_144, 8), (24_576, 16), (98_304, 32), (393_216, 64)]
IVF_NLIST_MAX = 128


def _ivf_nlist_py(c: int) -> int:
    for thresh, nl in IVF_NLIST_TIERS:
        if c <= thresh:
            return nl
    return IVF_NLIST_MAX


def _ivf_nlist_case_sql(count_col: str) -> str:
    branches = " ".join(
        f"WHEN {count_col} <= {t} THEN {nl}" for t, nl in IVF_NLIST_TIERS
    )
    return f"(CASE {branches} ELSE {IVF_NLIST_MAX} END)"
# Refined centroids are per-dimension MEANS of the assigned vectors; the
# mean is rounded to 3 decimals on BOTH engines so that aggregation-order
# float noise (~1e-15) cannot flip a low bit and diverge the assignment.
IVF_MEAN_ROUND = 3


def _with_norm(df: DataFrame, vec_col: str, norm_col: str) -> DataFrame:
    """sqrt(v·v) computed ONCE per row. The cosine folds are interpreted
    higher-order functions (no codegen), so hoisting the two norm folds
    out of the per-pair expression cuts the cross-join cost to a third —
    the value is the exact same double (same subexpression, same fold)."""
    return df.withColumn(
        norm_col, F.expr(f"sqrt({spark_dot(vec_col, vec_col)})")
    )


def _assign_lists(emb: DataFrame, cents: DataFrame) -> DataFrame:
    """(vec_id, embedding, centroid_id): each vector joins its
    argmax-cosine centroid's inverted list. Centroids broadcast; the 8→1
    reduction is map-side (partial max_by) before the one shuffle."""
    embn = _with_norm(emb, "embedding", "enorm")
    centsn = _with_norm(cents, "cv", "cnorm")
    ccos = F.expr(spark_dot("embedding", "cv")) / (F.col("enorm") * F.col("cnorm"))
    return (
        embn.crossJoin(F.broadcast(centsn))
        .select("vec_id", "embedding", "enorm", "centroid_id", ccos.alias("ccos"))
        .groupBy("vec_id")
        .agg(
            F.any_value(F.col("embedding")).alias("embedding"),
            F.any_value(F.col("enorm")).alias("enorm"),
            F.expr("max_by(centroid_id, ccos)").alias("centroid_id"),
        )
    )


def _refine_centroids(assigned: DataFrame) -> DataFrame:
    """One k-means step: new centroid = per-dim mean of its list (rounded,
    see IVF_MEAN_ROUND). 64 avg aggregates in ONE hash aggregation —
    map-side partials, a single 8-row result; empty lists simply drop out
    (their seed attracted no vectors)."""
    means = [
        F.round(F.avg(F.col("embedding")[i]), IVF_MEAN_ROUND).alias(f"m{i}")
        for i in range(DIM)
    ]
    return (
        assigned.groupBy("centroid_id")
        .agg(*means)
        .select(
            "centroid_id", F.array(*[F.col(f"m{i}") for i in range(DIM)]).alias("cv")
        )
    )


# Trained-centroid cache, keyed on (sf dir, embeddings.parquet mtime):
# k-means training is a one-off per corpus (at scale the refined
# centroids persist as their own tiny table that every query reuses);
# retraining on every knn_ivf call would bill the serving path for index
# construction. The mtime in the key invalidates the entry if the
# testdata is regenerated in place at the same path within one process
# (VERDICT r03 nit #8). Deterministic — fixed seeds + rounded means — so
# caching cannot change results. 8 rows of 64 doubles per entry.
_TRAINED: dict[tuple[str, float, str], tuple[list, object]] = {}


def _trained_key(sf: str, tag: str) -> tuple[str, float, str]:
    """THE memo key for per-corpus trained artifacts: (sf dir, corpus
    mtime, policy tag). One implementation — the key used to check a
    cache must be the same object used to store into it, or a corpus
    regenerated between two getmtime calls leaves a KeyError window
    (r15 review #5, which found this logic copy-pasted in three
    places)."""
    import os

    try:
        mtime = os.path.getmtime(os.path.join(sf, "embeddings.parquet"))
    except OSError:
        mtime = -1.0
    return (sf, mtime, tag)


def _trained_entry(
    spark: SparkSession, sf: str, nlist_of=None, tag: str = "ivf"
) -> tuple[list, object]:
    """The memoized (rows, schema) pair, training once per key —
    the single code path both public accessors share."""
    key = _trained_key(sf, tag)
    if key not in _TRAINED:
        emb = read_table(spark, sf, "embeddings")
        nlist = (nlist_of or _ivf_nlist_py)(emb.count())
        seeds = emb.filter(
            (F.col("vec_id") >= IVF_C_LO) & (F.col("vec_id") < IVF_C_LO + nlist)
        ).select(F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("cv"))
        refined = _refine_centroids(_assign_lists(emb, seeds))
        _TRAINED[key] = (refined.collect(), refined.schema)
    return _TRAINED[key]


def _trained_centroids(
    spark: SparkSession, sf: str, nlist_of=None, tag: str = "ivf",
) -> DataFrame:
    """Memoized one-k-means-step centroids. ``nlist_of(count)`` picks
    the list count (default: the IVF search tier); ``tag`` keys the
    cache per policy — SemDeDup trains with a fixed-OCCUPANCY nlist
    (clusters ∝ corpus), the search indexes with the sqrt-balance
    tier, and the two must not share cache entries.

    The relation is built from an ARROW table, not the pickled rows:
    a row-built createDataFrame makes every consuming action spawn a
    defaultParallelism-task Python job just to re-deserialize the
    driver-held centroids (guide §4 — profiled 0.31 s per knn_ivf /
    dedup_semdedup call at sf0.1); the Arrow relation deserializes
    JVM-side, losslessly (float64 arrays stay float64)."""
    import pyarrow as pa

    rows, schema = _trained_entry(spark, sf, nlist_of, tag)
    tbl = pa.table(
        {
            "centroid_id": pa.array(
                [r["centroid_id"] for r in rows], pa.int64()
            ),
            "cv": pa.array(
                [list(r["cv"]) for r in rows], pa.list_(pa.float64())
            ),
        }
    )
    return spark.createDataFrame(tbl, schema)


def _trained_centroid_rows(
    spark: SparkSession, sf: str, nlist_of=None, tag: str = "ivf"
) -> list:
    """The memoized centroid ROWS themselves — for driver-side probe
    selection and LUT construction, where re-materializing a local
    relation just to .collect() it again costs a whole Spark job
    (~0.25 s of pure scheduling at sf0.1, r15 profile). Bounded
    centroid set, the sanctioned scalar budget."""
    return _trained_entry(spark, sf, nlist_of, tag)[0]


_DUCK_IVF_CENTS = f"""
        ivfn AS (SELECT {_ivf_nlist_case_sql('c')} AS nl
                 FROM (SELECT count(*) AS c FROM embeddings)),
        c0 AS (SELECT vec_id AS centroid_id, embedding AS cv
               FROM embeddings, ivfn
               WHERE vec_id >= {IVF_C_LO} AND vec_id < {IVF_C_LO} + nl),
        a0 AS (
            SELECT e.vec_id, any_value(e.embedding) AS embedding,
                   arg_max(c0.centroid_id, {_duck_cos('e.embedding', 'c0.cv')})
                       AS centroid_id
            FROM embeddings e CROSS JOIN c0 GROUP BY e.vec_id),
        c1 AS (
            SELECT centroid_id, list(m ORDER BY i) AS cv FROM (
                SELECT a0.centroid_id, d.i,
                       ROUND(AVG(a0.embedding[d.i]), {IVF_MEAN_ROUND}) AS m
                FROM a0 CROSS JOIN (SELECT unnest(range(1, {DIM + 1})) AS i) d
                GROUP BY a0.centroid_id, d.i)
            GROUP BY centroid_id)
"""


_IVF_ORACLE = f"""WITH {_DUCK_IVF_CENTS},
        lists AS (
            SELECT e.vec_id, any_value(e.embedding) AS embedding,
                   arg_max(c1.centroid_id, {_duck_cos('e.embedding', 'c1.cv')})
                       AS centroid_id
            FROM embeddings e CROSS JOIN c1 GROUP BY e.vec_id),
        qp AS (
            SELECT q.vec_id AS query_id, q.embedding AS qv, c1.centroid_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY {_duck_cos('q.embedding', 'c1.cv')} DESC,
                                c1.centroid_id) AS prk
            FROM embeddings q CROSS JOIN c1 WHERE q.vec_id < {N_QUERIES}),
        probes AS (SELECT query_id, qv, centroid_id FROM qp
                   WHERE prk <= {IVF_NPROBE}),
        scored AS (
            SELECT p.query_id, l.vec_id AS neighbor_id,
                   {_duck_cos('p.qv', 'l.embedding')} AS cos
            FROM probes p JOIN lists l ON l.centroid_id = p.centroid_id
                                      AND l.vec_id <> p.query_id),
        ranked AS (
            SELECT query_id, neighbor_id, cos,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY cos DESC, neighbor_id) AS rank
            FROM scored)
        SELECT query_id, neighbor_id, ROUND(cos, 6) AS cos, rank
        FROM ranked WHERE rank <= {KNN_K}"""


def _ivf_probe_and_rank(emb: DataFrame, cents: DataFrame, lists_for) -> DataFrame:
    """The shared IVF QUERY path (knn_ivf and the materialized
    knn_index_lakehouse must return byte-identical results against the
    same oracle, so the probe selection, scoring, and ranking live
    once): each query probes its nprobe nearest lists (qcos desc,
    centroid_id ties), scores exactly within the candidate lists, and
    keeps KNN_K (cos desc, neighbor_id ties). ``lists_for(probes)``
    supplies the candidate relation — inline assignment or the
    committed index — exposing columns (vec_id, embedding, enorm,
    pcid), with pcid the STRING form of the list id (the committed
    index stores it as a partition-dir string; the inline path casts,
    which changes nothing for integer ids)."""
    centsn = _with_norm(cents, "cv", "cnorm")
    qp = (
        _with_norm(
            emb.filter(F.col("vec_id") < N_QUERIES), "embedding", "qnorm"
        )
        .crossJoin(F.broadcast(centsn))
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qv"),
            "qnorm",
            "centroid_id",
            (
                F.expr(spark_dot("embedding", "cv"))
                / (F.col("qnorm") * F.col("cnorm"))
            ).alias("qcos"),
        )
    )
    wp = Window.partitionBy("query_id").orderBy(
        F.col("qcos").desc(), F.col("centroid_id")
    )
    probes = (
        qp.withColumn("prk", F.row_number().over(wp))
        .filter(F.col("prk") <= IVF_NPROBE)
        .select(
            "query_id", "qv", "qnorm",
            F.col("centroid_id").cast("string").alias("pcid"),
        )
    )
    scored = (
        lists_for(probes)
        .alias("l")
        .join(
            F.broadcast(probes.alias("p")),
            (F.col("l.pcid") == F.col("p.pcid"))
            & (F.col("l.vec_id") != F.col("p.query_id")),
        )
        .select(
            "query_id",
            F.col("l.vec_id").alias("neighbor_id"),
            (
                F.expr(spark_dot("qv", "embedding"))
                / (F.col("qnorm") * F.col("enorm"))
            ).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= KNN_K)
        .select(
            "query_id",
            "neighbor_id",
            F.round(F.col("cos"), 6).alias("cos"),
            "rank",
        )
    )


@register("knn_ivf", _IVF_ORACLE)
def knn_ivf(spark: SparkSession, sf: str) -> DataFrame:
    """IVF ANN with one k-means refinement: 8 sampled seed vectors →
    assign → per-dim-mean refined centroids (balanced lists, the real IVF
    training step) → re-assign → queries probe their nprobe={IVF_NPROBE}
    nearest lists and rank exactly within candidates (the shared
    `_ivf_probe_and_rank` path).

    Scale shape: centroids broadcast at every step; each assignment is one
    pass over the corpus with map-side partial aggregation; refinement is
    a single 8-row hash agg; the candidate join shuffles by list id.
    nlist follows the sqrt balance via the count-derived tier
    table (IVF_NLIST_TIERS — 8 lists at driver scales, doubling per
    ~4x corpus growth); on a real corpus nlist is 10⁴-10⁵ and more
    k-means rounds amortize over every query. Ties on cosine are
    measure-zero with distinct real-valued vectors (both engines fall
    back on argmax order only for exact-double ties)."""
    emb = read_table(spark, sf, "embeddings")
    # Trained centroids materialize ONCE per corpus (memoized — see
    # _trained_centroids): three downstream consumers (list assignment,
    # query probing ×2) would each re-run the whole training pass if left
    # lazy. The driver round-trip turns 8 rows into a LocalRelation the
    # optimizer broadcasts for free (same small-dim pattern as
    # operators/asof.py).
    cents = _trained_centroids(spark, sf)
    return _ivf_probe_and_rank(
        emb,
        cents,
        lambda probes: _assign_lists(emb, cents).withColumn(
            "pcid", F.col("centroid_id").cast("string")
        ),
    )


# ---------------------------------------------------------------------------
# int8 symmetric quantization — candidate scan on quarter-width vectors,
# exact float rescore of the survivors
# ---------------------------------------------------------------------------

QUANT_OVERFETCH = 4  # quantized stage keeps K * this candidates per query


def _spark_maxabs(a: str) -> str:
    return (
        f"aggregate({a}, CAST(0 AS DOUBLE), "
        f"(acc, v) -> greatest(acc, abs(CAST(v AS DOUBLE))))"
    )


def _duck_maxabs(a: str) -> str:
    return (
        f"list_reduce(list_prepend(0.0::DOUBLE, "
        f"list_transform({a}, v -> abs(v::DOUBLE))), "
        f"(acc, v) -> greatest(acc, v))"
    )


# round-half-up as floor(x + 0.5): both engines' floor is IEEE-exact,
# sidestepping their differing round() half-way conventions.
def _spark_quant(a: str, scale: str) -> str:
    return (
        f"transform({a}, v -> CAST(floor(CAST(v AS DOUBLE) / {scale} + 0.5) "
        f"AS INT))"
    )


def _duck_quant(a: str, scale: str) -> str:
    return (
        f"list_transform({a}, v -> CAST(floor(v::DOUBLE / {scale} + 0.5) "
        f"AS INT))"
    )


@register(
    "knn_quantized",
    f"""WITH qm AS (
            SELECT vec_id, embedding, {_duck_maxabs('embedding')} AS ma
            FROM embeddings),
        qz AS (
            SELECT vec_id, embedding,
                   CASE WHEN ma < 1e-300 THEN 1.0
                        ELSE ma / 127.0 END AS qs
            FROM qm),
        z AS (SELECT vec_id, embedding, qs,
                     {_duck_quant('embedding', 'qs')} AS qv,
                     sqrt({duck_dot('embedding', 'embedding')}) AS enorm
              FROM qz),
        q AS (SELECT vec_id AS query_id, embedding AS qe, qs AS qqs,
                     qv AS qqv, enorm AS qnorm
              FROM z WHERE vec_id < {N_QUERIES}),
        scored AS (
            SELECT q.query_id, e.vec_id AS neighbor_id, q.qe, e.embedding,
                   q.qnorm, e.enorm,
                   {duck_dot('q.qqv', 'e.qv')} * q.qqs * e.qs
                       / (q.qnorm * e.enorm) AS qcos
            FROM q JOIN z e ON e.vec_id <> q.query_id),
        cand AS (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                         ORDER BY qcos DESC, neighbor_id)
                          AS qrk
            FROM scored),
        rescored AS (
            SELECT query_id, neighbor_id, qcos,
                   {duck_dot('qe', 'embedding')} / (qnorm * enorm) AS cos
            FROM cand WHERE qrk <= {KNN_K * QUANT_OVERFETCH}),
        ranked AS (
            SELECT query_id, neighbor_id, cos, qcos,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY cos DESC, neighbor_id) AS rank
            FROM rescored)
        SELECT query_id, neighbor_id, ROUND(cos, 6) AS cos,
               ROUND(qcos, 6) AS qcos, rank
        FROM ranked WHERE rank <= {KNN_K}""",
)
def knn_quantized(spark: SparkSession, sf: str) -> DataFrame:
    """int8-quantized ANN with exact rescore — the memory/bandwidth play
    a 100 TB vector corpus actually ships: per-vector symmetric
    quantization (scale = maxabs/127, round-half-up as an exact floor)
    shrinks the scanned vectors 4x, the candidate stage ranks on the
    integer dot (exact in doubles up to 127·127·64, dequantized by the
    two scales), and only the top K·{QUANT_OVERFETCH} survivors per
    query are rescored with the full-precision dot for the final top-k.
    Emitting both `cos` (exact) and `qcos` (quantized estimate) makes
    the quantization error observable in the oracle-pinned output.

    Scale shape: quantization is map-only; the candidate stage is the
    same broadcast-queries-x-corpus single scan as knn_bruteforce but
    streaming int8 arrays instead of float64 — on a real cluster that is
    the working-set that has to fit in page cache, which is why every
    production ANN store quantizes. The rescore touches K·{QUANT_OVERFETCH}
    rows per query. Both engines run the identical fold order, so the
    oracle pins the quantized ranking bit-for-bit, not just the final
    answer."""
    emb = _with_norm(read_table(spark, sf, "embeddings"), "embedding", "enorm")
    # maxabs hoisted into its own column so the guard CASE doesn't
    # evaluate the 64-element fold twice per row. Guard threshold is
    # 1e-300, not 0: a SUBNORMAL maxabs below ~6.4e-322 underflows
    # maxabs/127 to 0.0 and the quantize division blows up (found by the
    # hypothesis law in test_properties.py) — any such vector is
    # numerically zero, and qs=1 codes it as all-zero, which is right.
    z = (
        emb.withColumn("ma", F.expr(_spark_maxabs("embedding")))
        .withColumn(
            "qs",
            F.expr("CASE WHEN ma < 1e-300 THEN 1.0 ELSE ma / 127.0 END"),
        )
        .withColumn("qv", F.expr(_spark_quant("embedding", "qs")))
    )
    q = F.broadcast(
        z.filter(F.col("vec_id") < N_QUERIES).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qe"),
            F.col("qs").alias("qqs"),
            F.col("qv").alias("qqv"),
            F.col("enorm").alias("qnorm"),
        )
    )
    # Candidate stage stays SLIM (ids + score only): the per-query
    # window shuffles every pair row, and carrying the float arrays
    # through that exchange would move the whole corpus 5x — the rescore
    # fetches vectors BY ID afterwards instead, exactly how a production
    # ANN store rescores (ids from the quantized index, floats from the
    # vector store).
    scored = (
        z.alias("e")
        .join(
            q.select("query_id", "qqv", "qqs", "qnorm"),
            F.col("e.vec_id") != F.col("query_id"),
        )
        .select(
            "query_id",
            F.col("e.vec_id").alias("neighbor_id"),
            (
                F.expr(spark_dot("qqv", "e.qv"))
                * F.col("qqs")
                * F.col("e.qs")
                / (F.col("qnorm") * F.col("e.enorm"))
            ).alias("qcos"),
        )
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.col("qcos").desc(), F.col("neighbor_id")
    )
    cand = (
        scored.withColumn("qrk", F.row_number().over(wq))
        .filter(F.col("qrk") <= KNN_K * QUANT_OVERFETCH)
        .select("query_id", "neighbor_id", "qcos")
    )
    rescored = (
        emb.select("vec_id", "embedding", "enorm")
        .join(F.broadcast(cand), F.col("vec_id") == F.col("neighbor_id"))
        .join(
            q.select("query_id", "qe", "qnorm"),
            "query_id",
        )
        .select(
            "query_id",
            "neighbor_id",
            "qcos",
            (
                F.expr(spark_dot("qe", "embedding"))
                / (F.col("qnorm") * F.col("enorm"))
            ).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    return (
        rescored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= KNN_K)
        .select(
            "query_id",
            "neighbor_id",
            F.round(F.col("cos"), 6).alias("cos"),
            F.round(F.col("qcos"), 6).alias("qcos"),
            "rank",
        )
    )


# ---------------------------------------------------------------------------
# random projection — JL dimensionality reduction ahead of ANN indexing
# ---------------------------------------------------------------------------

PROJ_DIM = 8
PROJ_PLANE_BASE = 100  # plane ids disjoint from the LSH planes (0..N_PLANES)


def _proj_exprs_duck() -> str:
    # One scalar column per projected dimension: the driver's value
    # hasher rejects array-typed outputs (unhashable), so the projection
    # is emitted WIDE (p0..p7) rather than as one array<double> column.
    return ", ".join(
        f"ROUND({duck_hyperplane_dot('embedding', PROJ_PLANE_BASE + j, DIM)}, 6) AS p{j}"
        for j in range(PROJ_DIM)
    )


@register(
    "embedding_random_projection",
    f"""SELECT vec_id, {_proj_exprs_duck()}
        FROM embeddings""",
)
def embedding_random_projection(spark: SparkSession, sf: str) -> DataFrame:
    """Johnson-Lindenstrauss random projection: {DIM}-d float embeddings
    down to {PROJ_DIM}-d via {PROJ_DIM} deterministic pseudo-random
    hyperplanes (the same integer-hash planes the LSH bucketing uses,
    disjoint ids) — the standard preprocessing that makes 100 TB ANN
    indexing affordable: distances are approximately preserved while the
    candidate-scoring cost drops {DIM // PROJ_DIM}×. Map-only, no
    shuffle, whole-stage codegen'd folds; at real scale the projection
    matrix would broadcast instead of inlining as literals."""
    cols = [
        F.round(
            F.expr(spark_hyperplane_dot("embedding", PROJ_PLANE_BASE + j, DIM)), 6
        ).alias(f"p{j}")
        for j in range(PROJ_DIM)
    ]
    return read_table(spark, sf, "embeddings").select("vec_id", *cols)


@register("knn_index_lakehouse", _IVF_ORACLE)
def knn_index_lakehouse(spark: SparkSession, sf: str) -> DataFrame:
    """The production form of `knn_ivf`: the inverted lists are a
    MATERIALIZED commit-log table partitioned by centroid_id — trained
    and landed once, then grown INCREMENTALLY (a held-out tenth of the
    corpus arrives as a later batch: assignment is a broadcast-centroid
    map-only pass over just the batch, appended in one O(batch)
    `append_partition_transaction` commit — the corpus is never
    re-assigned, which is the point at 100 TB). Queries read the index
    back through `read_keyed_table` and touch only their nprobe probed
    lists: the probe filter on the partition column folds per union
    branch, so unprobed lists collapse to empty relations before any
    file opens (pinned by a plan test). Precomputed norms live in the
    index like any real ANN store. Same oracle as `knn_ivf` — the
    materialized flow must change WHERE bytes live, never the answer."""
    from nshm2022db_spark.sources.scratch import (
        is_landed,
        mark_landed,
        scratch_path,
    )
    from nshm2022db_spark.streaming.sinks import (
        append_partition_transaction,
        committed_partition_transaction,
        read_keyed_table,
    )

    emb = read_table(spark, sf, "embeddings")
    cents = _trained_centroids(spark, sf)
    base = scratch_path("ivf_index_lakehouse_r6", sf)
    path = os.path.join(base, "ivf_lists")
    if not is_landed(base):
        initial = _assign_lists(emb.filter(F.col("vec_id") % 10 != 0), cents)
        committed_partition_transaction(
            spark, path, "centroid_id", lambda b: initial
        )
        late = _assign_lists(emb.filter(F.col("vec_id") % 10 == 0), cents)
        append_partition_transaction(spark, path, "centroid_id", late)
        mark_landed(base)
    idx = read_keyed_table(spark, path)

    def lists_for(probes):
        probed_ids = sorted(
            {r["pcid"] for r in probes.select("pcid").collect()}
        )
        return idx.filter(F.col("centroid_id").isin(probed_ids)).withColumn(
            "pcid", F.col("centroid_id")
        )

    return _ivf_probe_and_rank(emb, cents, lists_for)


# ---------------------------------------------------------------------------
# SemDeDup (r13): cluster-scoped semantic dedup — the Abbas et al. 2023
# pattern for pruning semantically redundant training data at scale.
# Where dedup_embedding_cosine blocks by LSH sign buckets (exact recall
# via pigeonhole), SemDeDup blocks by SEMANTIC cluster: embeddings join
# their argmax-cosine IVF centroid, and only cluster-mates are ever
# compared — cross-cluster near-dups are out of contract BY DESIGN
# (that approximation is what makes the method linear-ish at corpus
# scale; nlist grows with the count tier, so per-cluster pair work
# stays bounded). Keep rule: a vector drops iff a LOWER-id cluster-mate
# has cosine >= the threshold — referencing ids, not kept-status, so
# the rule is one self-join, not an iterative closure.
# ---------------------------------------------------------------------------

# SemDeDup cluster count targets FIXED OCCUPANCY (the published method
# runs #clusters ∝ corpus size — per-cluster pair work is quadratic in
# occupancy, so holding occupancy constant is what makes the whole
# dedup scan-linear; the IVF search tier's sqrt-balance would grow
# occupancy with the corpus and the pair join super-linearly — measured
# α 1.32 before this split, α ≈ 1 after).
SEMDEDUP_TARGET_OCC = 250


def _semdedup_nlist_py(c: int) -> int:
    return max(8, (c + SEMDEDUP_TARGET_OCC - 1) // SEMDEDUP_TARGET_OCC)


_SEMDEDUP_NLIST_SQL = (
    f"GREATEST(8, (c + {SEMDEDUP_TARGET_OCC - 1}) // {SEMDEDUP_TARGET_OCC})"
)

_DUCK_SEM_CENTS = _DUCK_IVF_CENTS.replace(
    _ivf_nlist_case_sql("c"), _SEMDEDUP_NLIST_SQL
)


_SEMDEDUP_ORACLE = f"""WITH {_DUCK_SEM_CENTS},
    lists AS (
        SELECT e.vec_id, any_value(e.embedding) AS embedding,
               arg_max(c1.centroid_id, {_duck_cos('e.embedding', 'c1.cv')})
                   AS centroid_id
        FROM embeddings e CROSS JOIN c1 GROUP BY e.vec_id),
    drops AS (
        SELECT DISTINCT y.vec_id
        FROM lists x JOIN lists y
          ON x.centroid_id = y.centroid_id AND x.vec_id < y.vec_id
        WHERE {_duck_cos('x.embedding', 'y.embedding')} >= {COS_TAU})
    SELECT l.centroid_id,
           CAST(COUNT(*) AS BIGINT) AS n_total,
           CAST(COUNT(d.vec_id) AS BIGINT) AS n_dropped,
           CAST(COALESCE(SUM(d.vec_id), 0) AS BIGINT) AS drop_id_sum,
           CAST(COALESCE(SUM(CASE WHEN d.vec_id IS NULL THEN l.vec_id END),
                         0) AS BIGINT) AS kept_id_sum
    FROM lists l LEFT JOIN (SELECT vec_id FROM drops) d
      ON d.vec_id = l.vec_id
    GROUP BY l.centroid_id"""


@register("dedup_semdedup", _SEMDEDUP_ORACLE)
def dedup_semdedup(spark: SparkSession, sf: str) -> DataFrame:
    """SemDeDup — SEMANTIC-cluster-scoped near-dup pruning (the
    published LLM-corpus curation pattern: cluster the embedding space,
    then drop within-cluster semantic redundancy; cross-cluster pairs
    are never compared, which is the scalability contract). Clusters
    are knn_ivf's trained centroids (memoized per corpus); the keep
    rule is deterministic — a vector drops iff a LOWER-id cluster-mate
    has cosine >= {COS_TAU} — one self-join per cluster, no iterative
    closure. Returns the per-cluster curation report (totals, drops,
    id checksums), the frame a corpus-pruning pipeline feeds its
    sampling stage.

    Scale shape: centroid assignment is one broadcast-and-aggregate
    pass; the pair join shuffles ONCE on centroid_id and its work is
    quadratic only in per-cluster occupancy, which the count-derived
    nlist tier bounds (the published method's own trade — they run
    ~50k clusters at 100 TB for exactly this reason). The blocked
    relation stages once (localCheckpoint) so the self-join's two
    sides and the report scan do not re-run assignment, mirroring
    dedup_embedding_cosine's at-scale write-then-join design."""
    emb = read_table(spark, sf, "embeddings")
    cents = _trained_centroids(
        spark, sf, nlist_of=_semdedup_nlist_py, tag="semdedup"
    )
    a = _assign_lists(emb, cents).localCheckpoint()
    # Pin the pair stage's parallelism: the blocked relation is tiny in
    # BYTES (ids + packed embeddings) but quadratic-in-occupancy in
    # COMPUTE, so AQE's byte-targeted coalescing would fold the
    # centroid_id shuffle down to 1-2 tasks and serialize the cosine
    # work (measured 7.4 s on 2 tasks at sf0.1; ~2x faster spread).
    # An explicit hash repartition is user-specified partitioning, which
    # AQE preserves; both self-join sides reuse the one exchange.
    a = a.repartition(a.sparkSession.sparkContext.defaultParallelism,
                      "centroid_id")
    drops = (
        a.alias("x")
        .join(
            a.alias("y"),
            (F.col("x.centroid_id") == F.col("y.centroid_id"))
            & (F.col("x.vec_id") < F.col("y.vec_id")),
        )
        .filter(
            F.expr(spark_dot("x.embedding", "y.embedding"))
            / (F.col("x.enorm") * F.col("y.enorm"))
            >= COS_TAU
        )
        .select(F.col("y.vec_id").alias("vec_id"))
        .distinct()
        .withColumn("_dropped", F.lit(1))
    )
    return (
        a.join(drops, "vec_id", "left")
        .groupBy("centroid_id")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.count("_dropped").cast("long").alias("n_dropped"),
            F.coalesce(
                F.sum(F.when(F.col("_dropped").isNotNull(), F.col("vec_id"))),
                F.lit(0),
            ).cast("long").alias("drop_id_sum"),
            F.coalesce(
                F.sum(F.when(F.col("_dropped").isNull(), F.col("vec_id"))),
                F.lit(0),
            ).cast("long").alias("kept_id_sum"),
        )
    )


# ---------------------------------------------------------------------------
# Streaming semantic admission (r14 — VERDICT r13 #5): the SemDeDup
# counterpart of stream_neardup_admission. Embeddings arrive as a real
# micro-batch replay; each row assigns to its argmax-cosine cluster
# STATELESSLY (Arrow-batched NumPy against the broadcast memoized
# centroids, same sequential-fold bits as the batch path), and ONE
# keyed-state operator per cluster maintains the seen set and re-derives
# the admission report. The decision rule is dedup_semdedup's verbatim —
# a vector drops iff a LOWER-id cluster-mate has cosine >= COS_TAU —
# which is ORDER-FREE (it names ids, not arrival order), so the final
# per-cluster report is identical under ANY micro-batch split, including
# the id-scrambled split the replay harness produces. State per cluster
# is its member set, bounded by the fixed-occupancy nlist rule
# (SEMDEDUP_TARGET_OCC) — the same knob that bounds the batch form's
# per-cluster pair work bounds this form's per-key state and per-batch
# rescan (occ² sequential-fold cosines, ~μs at the 250-occupancy
# target).
# ---------------------------------------------------------------------------


def _seq_dot_nd(A: "np.ndarray", B: "np.ndarray") -> "np.ndarray":
    """Left-to-right sequential dot along the LAST axis — the portable
    fold's exact op order (products first, then an in-order
    accumulation; see _pq_sqdists for why np.sum would drift a
    last-ulp)."""
    P = A * B
    acc = P[..., 0].copy()
    for i in range(1, P.shape[-1]):
        acc = acc + P[..., i]
    return acc


def _sem_assign_batches(cent_ids: list, C: "np.ndarray"):
    """Arrow-batched per-row argmax-cosine centroid assignment:
    (vec_id, embedding) -> (vec_id, centroid_id, embedding). cent_ids
    is sorted ascending, so an (impossible-in-doubles) exact tie
    resolves to the lowest centroid id. Bit-parity with _assign_lists'
    fold is pinned by test_sem_assign_matches_batch."""
    import numpy as np
    import pandas as pd

    cn = np.sqrt(_seq_dot_nd(C, C))

    def assign(batches):
        for pdf in batches:
            if len(pdf) == 0:
                yield pd.DataFrame(
                    {"vec_id": [], "centroid_id": [], "embedding": []}
                )
                continue
            X = np.stack(pdf["embedding"].map(np.asarray)).astype(np.float64)
            xn = np.sqrt(_seq_dot_nd(X, X))
            cos = _seq_dot_nd(X[:, None, :], C[None]) / (xn[:, None] * cn[None])
            k = cos.argmax(1)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "centroid_id": [int(cent_ids[j]) for j in k],
                    "embedding": pdf["embedding"],
                }
            )

    return assign


def _update_sem_admit(key, pdfs, state):
    """Per-cluster keyed state: the member set seen so far (ids + the
    CAST-to-double embeddings, so the stored bits are exactly the fold
    inputs). Each batch the cluster appears in merges its arrivals and
    re-derives the full admission report from state — the re-derivation
    is what makes the rule order-free under the id-scrambled replay: a
    LOWER-id mate arriving in a LATER batch retroactively drops an
    earlier arrival, exactly as the batch rule would have. Emits the
    cluster's current report row; n_total strictly increases per
    appearance, so the LAST report per cluster is the max-n_total row."""
    import numpy as np
    import pandas as pd

    ids, flat = (
        (list(state.get[0]), list(state.get[1])) if state.exists else ([], [])
    )
    for pdf in pdfs:
        for vid, emb in zip(pdf["vec_id"], pdf["embedding"]):
            ids.append(int(vid))
            flat.extend(np.asarray(emb, np.float64).tolist())
    state.update((ids, flat))
    n = len(ids)
    V = np.array(flat, np.float64).reshape(n, DIM)
    order = np.argsort(np.array(ids))
    sid = np.array(ids)[order]
    Vs = V[order]
    norms = np.sqrt(_seq_dot_nd(Vs, Vs))
    cos = _seq_dot_nd(Vs[:, None, :], Vs[None]) / (norms[:, None] * norms[None])
    hit = (cos >= COS_TAU) & np.tril(np.ones((n, n), bool), -1)
    dropped = hit.any(axis=1)  # j drops iff any lower-id mate i<j is close
    yield pd.DataFrame(
        {
            "centroid_id": [int(key[0])],
            "n_total": [n],
            "n_dropped": [int(dropped.sum())],
            "drop_id_sum": [int(sid[dropped].sum())],
            "kept_id_sum": [int(sid[~dropped].sum())],
        }
    )


@register("stream_semdedup_admission", _SEMDEDUP_ORACLE)
def stream_semdedup_admission(
    spark: SparkSession, sf: str, n_files: int = 3
) -> DataFrame:
    """SemDeDup as a STREAMING admission job — the ingest-time form: a
    crawler's embeddings arrive in micro-batches and each cluster's
    keyed state decides, continuously, which vectors are semantically
    redundant. dedup_semdedup's oracle value-pins stream == batch: the
    final per-cluster report must be byte-identical to the one-shot
    batch computation no matter how the replay splits (pinned
    additionally by the 1-file vs 3-file test; ``n_files`` is that
    test's knob).

    Scale shape: the assignment stage is map-only (broadcast centroids,
    Arrow-batched NumPy); the ONE stateful shuffle keys by centroid_id;
    per-key state and per-batch work are bounded by the fixed-occupancy
    cluster rule (the published method's own trade). At 100 TB the
    memory sink becomes a keyed table append and expired clusters age
    out by watermark — the machinery is the stream_stateful_profile
    pattern, the state-size argument is SemDeDup's."""
    from pyspark.sql import types as T
    from pyspark.sql.streaming.state import GroupStateTimeout

    from nshm2022db_spark.streaming import events as _events
    from nshm2022db_spark.streaming.events import emb_stream

    import numpy as np

    # the memoized centroid ROWS directly — materializing the relation
    # just to .collect() it back cost one whole Spark job per call
    # (the _trained_centroid_rows rationale, applied here in r15)
    crows = sorted(
        (int(r["centroid_id"]), list(r["cv"]))
        for r in _trained_centroid_rows(
            spark, sf, nlist_of=_semdedup_nlist_py, tag="semdedup"
        )
    )
    cent_ids = [c for c, _ in crows]
    C = np.array([v for _, v in crows], np.float64)

    stream = emb_stream(spark, sf, n_files=n_files)
    # spread the one-file micro-batch before the per-row assignment
    # (the replay stand-in for a real source's own partitioning)
    stream = stream.repartition(
        stream.sparkSession.sparkContext.defaultParallelism
    )
    assigned = stream.select("vec_id", "embedding").mapInPandas(
        _sem_assign_batches(cent_ids, C),
        "vec_id long, centroid_id long, embedding array<float>",
    )
    out_schema = T.StructType(
        [
            T.StructField("centroid_id", T.LongType(), False),
            T.StructField("n_total", T.LongType(), False),
            T.StructField("n_dropped", T.LongType(), False),
            T.StructField("drop_id_sum", T.LongType(), False),
            T.StructField("kept_id_sum", T.LongType(), False),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("ids", T.ArrayType(T.LongType())),
            T.StructField("flat", T.ArrayType(T.DoubleType())),
        ]
    )
    updates = assigned.groupBy("centroid_id").applyInPandasWithState(
        _update_sem_admit,
        out_schema,
        state_schema,
        "update",
        GroupStateTimeout.NoTimeout,
    )
    mem = _events._run_to_memory(
        updates, f"stream_semdedup_{next(_events._counter)}",
        output_mode="update",
    )
    # latest report per cluster = the max-n_total row (strictly
    # increasing per appearance)
    return mem.groupBy("centroid_id").agg(
        F.max_by(
            F.struct("n_total", "n_dropped", "drop_id_sum", "kept_id_sum"),
            F.col("n_total"),
        ).alias("s")
    ).select(
        "centroid_id",
        F.col("s.n_total").alias("n_total"),
        F.col("s.n_dropped").alias("n_dropped"),
        F.col("s.drop_id_sum").alias("drop_id_sum"),
        F.col("s.kept_id_sum").alias("kept_id_sum"),
    )


# ---------------------------------------------------------------------------
# Product quantization + ADC (r12): the 100 TB ANN memory play beyond
# scalar int8 — vectors become m-subspace codebook indices (here m=8
# subspaces x 16 centroids = 8 bytes/vector vs 256 for float32), and
# query-to-vector distance is estimated by Asymmetric Distance
# Computation: a per-query lookup table of query-subvector-to-centroid
# distances, summed over the code. Codebook = the first 16 vectors'
# subvectors (deterministic; quality is the overfetch+rescore's job,
# exactly as in knn_quantized). Every float path uses ONE fold order —
# sequential NumPy float64 == duck_sqdist's list fold == the Spark
# aggregate — so the oracle pins the ADC ranking bit-for-bit.
# ---------------------------------------------------------------------------

PQ_M = 8           # subspaces (DIM 64 -> sub-dim 8)
PQ_K = 16          # centroids per subspace (4-bit codes)
PQ_SUB = DIM // PQ_M
PQ_OVERFETCH = 4   # ADC stage keeps K * this candidates per query


def _pq_codebook(spark: SparkSession, sf: str) -> "np.ndarray":
    """(m, k, sub) float64 codebook from the first PQ_K vectors —
    a bounded driver-side collect (16 rows), the same budget class as
    the IVF centroid cache."""
    import numpy as np

    rows = (
        read_table(spark, sf, "embeddings")
        .filter(F.col("vec_id") < PQ_K)
        .orderBy("vec_id")
        .select("embedding")
        .collect()
    )
    cb = np.array([r.embedding for r in rows], np.float64)  # (k, DIM)
    return cb.reshape(PQ_K, PQ_M, PQ_SUB).transpose(1, 0, 2)


def _pq_sqdists(V: "np.ndarray", cb: "np.ndarray") -> "np.ndarray":
    """(n, m, k) sub-distances with the portable fold's exact op order:
    per-element (x - y)^2 then an EXPLICIT left-to-right accumulation
    over the sub-dim. np.sum would NOT do: NumPy's pairwise reduction
    reorders even a length-8 axis ((t0+t4)+(t1+t5)... under the 8-lane
    unroll), drifting a last-ulp from duck_sqdist's sequential fold —
    caught by the property test's explicit-fold probe. The vectorized
    loop below is 8 array adds in index order, bit-identical to the
    SQL fold and the Spark aggregate."""
    sub = V.reshape(len(V), PQ_M, 1, PQ_SUB)
    t = (sub - cb[None]) ** 2  # (n, m, k, sub)
    d = t[..., 0].copy()
    for i in range(1, PQ_SUB):
        d = d + t[..., i]
    return d


_PQ_ORACLE = f"""WITH subs AS (
        SELECT vec_id, j,
               list_slice(embedding, j * {PQ_SUB} + 1,
                          j * {PQ_SUB} + {PQ_SUB}) AS sub
        FROM (SELECT vec_id, embedding,
                     unnest(range(0, {PQ_M})) AS j
              FROM embeddings)),
    cb AS (SELECT j, vec_id AS c, sub AS cent
           FROM subs WHERE vec_id < {PQ_K}),
    dists AS (
        SELECT s.vec_id, s.j, cb.c,
               {duck_sqdist('s.sub', 'cb.cent')} AS d
        FROM subs s JOIN cb ON cb.j = s.j),
    codes AS (
        SELECT vec_id, j, c AS code, d
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, j
                                           ORDER BY d, c) AS rk
              FROM dists)
        WHERE rk = 1),
    adcj AS (
        SELECT qd.vec_id AS query_id, co.vec_id AS neighbor_id,
               qd.j, qd.d
        FROM dists qd
        JOIN codes co ON co.j = qd.j AND co.code = qd.c
        WHERE qd.vec_id < {N_QUERIES} AND co.vec_id <> qd.vec_id),
    adcp AS (
        SELECT query_id, neighbor_id,
               {', '.join(f"MAX(CASE WHEN j = {j} THEN d END) AS d{j}"
                          for j in range(PQ_M))}
        FROM adcj GROUP BY query_id, neighbor_id),
    adcv AS (SELECT query_id, neighbor_id,
                    {'(' * (PQ_M - 1)}d0{''.join(f" + d{j})" for j in range(1, PQ_M))}
                        AS adc
             FROM adcp),
    cand AS (
        SELECT query_id, neighbor_id, adc
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                           ORDER BY adc, neighbor_id)
                           AS ark
              FROM adcv)
        WHERE ark <= {KNN_K * PQ_OVERFETCH}),
    nv AS (SELECT vec_id, embedding,
                  sqrt({duck_dot('embedding', 'embedding')}) AS enorm
           FROM embeddings),
    rescored AS (
        SELECT c.query_id, c.neighbor_id, c.adc,
               {duck_dot('q.embedding', 'e.embedding')}
                   / (q.enorm * e.enorm) AS cos
        FROM cand c
        JOIN nv e ON e.vec_id = c.neighbor_id
        JOIN nv q ON q.vec_id = c.query_id),
    ranked AS (
        SELECT query_id, neighbor_id, cos, adc,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, neighbor_id) AS rank
        FROM rescored)
    SELECT query_id, neighbor_id, ROUND(cos, 6) AS cos,
           ROUND(adc, 6) AS adc, rank
    FROM ranked WHERE rank <= {KNN_K}"""


@register("knn_pq_adc", _PQ_ORACLE)
def knn_pq_adc(spark: SparkSession, sf: str) -> DataFrame:
    """Product-quantized ANN with Asymmetric Distance Computation and
    exact rescore — the memory play past int8 (knn_quantized): each
    vector is encoded DISTRIBUTED (an Arrow-batched mapInPandas argmin
    over the broadcast 16x8x8 codebook) into 8 four-bit codes, 32x
    smaller than float32. Query time builds a per-query 8x16 lookup
    table of query-subvector-to-centroid distances driver-side (40
    bounded rows), broadcasts it, and the candidate scan is ONE
    JVM-side fold per (query, vector): sum over subspaces of
    LUT[j][code_j] — no float vectors move. Top K*{PQ_OVERFETCH}
    candidates per query are rescored with the full-precision cosine
    (vectors fetched BY ID, the production ANN-store shape shared with
    knn_quantized). Emitting both `cos` (exact) and `adc` (the PQ
    estimate) makes the quantization error oracle-observable. All
    distance arithmetic shares one fold order (portable.spark/
    duck_sqdist == sequential NumPy float64), so DuckDB pins the codes,
    the ADC ranking, and the final top-k bit-for-bit."""
    import numpy as np
    import pandas as pd

    cb = _pq_codebook(spark, sf)
    emb = _with_norm(read_table(spark, sf, "embeddings"), "embedding", "enorm")

    def encode(batches):
        for pdf in batches:
            if len(pdf) == 0:
                yield pd.DataFrame({"vec_id": [], "codes": []})
                continue
            V = np.stack(pdf["embedding"].map(np.asarray)).astype(np.float64)
            codes = _pq_sqdists(V, cb).argmin(-1)  # ties -> lowest c
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "codes": [c.astype(np.int32) for c in codes],
                }
            )

    # spread probed twice and REJECTED (r14, re-probed r16 after the
    # flat 8->32c scaling ratio — VERDICT r15 #7): spreading the scan
    # before encode (full embeddings shuffled) and after encode (codes
    # only) both measured 2.38 s vs 1.50-1.66 unspread at sf0.1; the
    # flat scaling is the driver-side LUT build + broadcast floor and
    # the small candidate set, not a serialized ADC stage.
    coded = read_table(spark, sf, "embeddings").select(
        "vec_id", "embedding"
    ).mapInPandas(encode, "vec_id long, codes array<int>")
    # per-query LUTs: 5 queries x 8 subspaces x 16 centroids, computed
    # driver-side with the same sequential-fold NumPy ops
    qrows = (
        read_table(spark, sf, "embeddings")
        .filter(F.col("vec_id") < N_QUERIES)
        .orderBy("vec_id")
        .select("vec_id", "embedding")
        .collect()
    )
    Q = np.array([r.embedding for r in qrows], np.float64)
    luts = _pq_sqdists(Q, cb)  # (nq, m, k)
    lut_df = F.broadcast(
        spark.createDataFrame(
            [
                (int(r.vec_id), [[float(v) for v in row] for row in luts[i]])
                for i, r in enumerate(qrows)
            ],
            "query_id long, lut array<array<double>>",
        )
    )
    adc_expr = (
        "aggregate(zip_with(codes, lut, (c, row) -> element_at(row, c + 1)), "
        "CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    scored = (
        coded.join(lut_df, F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.expr(adc_expr).alias("adc"),
        )
    )
    wa = Window.partitionBy("query_id").orderBy(
        F.col("adc").asc(), F.col("neighbor_id")
    )
    cand = (
        scored.withColumn("ark", F.row_number().over(wa))
        .filter(F.col("ark") <= KNN_K * PQ_OVERFETCH)
        .select("query_id", "neighbor_id", "adc")
    )
    q = F.broadcast(
        emb.filter(F.col("vec_id") < N_QUERIES).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qe"),
            F.col("enorm").alias("qnorm"),
        )
    )
    rescored = (
        emb.select("vec_id", "embedding", "enorm")
        .join(F.broadcast(cand), F.col("vec_id") == F.col("neighbor_id"))
        .join(q, "query_id")
        .select(
            "query_id",
            "neighbor_id",
            "adc",
            (
                F.expr(spark_dot("qe", "embedding"))
                / (F.col("qnorm") * F.col("enorm"))
            ).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    return (
        rescored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= KNN_K)
        .select(
            "query_id",
            "neighbor_id",
            F.round(F.col("cos"), 6).alias("cos"),
            F.round(F.col("adc"), 6).alias("adc"),
            "rank",
        )
    )


# ---------------------------------------------------------------------------
# IVF-PQ (r13 — VERDICT r12 #6; r14 residual encoding): the FAISS-shaped
# 100 TB ANN end-state, composed from parts this module already proves
# exact — knn_ivf's inverted lists prune the candidate space at
# partition level, and knn_pq_adc's 8-byte codes + per-query ADC LUTs
# score inside each probed list, with the exact-cosine rescore on the
# overfetch. Since r14 the codes encode the RESIDUAL (x − centroid of
# x's list) — the published IVF-ADC formulation (Jégou, Douze, Schmid,
# "Product Quantization for Nearest Neighbor Search", IVFADC): within a
# list the residuals span a tighter cell around the origin than the raw
# vectors span around the corpus mean, so the same 8-byte budget buys
# materially less quantization error. The price is a LUT per (query,
# PROBED LIST) instead of per query — the query's own residual differs
# per probed centroid — which stays a bounded driver-side computation
# (nq × nprobe ≤ 10 rows here; at any scale it is nq·nprobe·m·k doubles,
# independent of corpus size). Every float path shares the portable
# sequential fold, so DuckDB pins list assignment, probe selection, the
# residual codes, the per-list ADC ranking, and the final top-k
# bit-for-bit.
# ---------------------------------------------------------------------------

_IVFPQ_ORACLE = f"""WITH {_DUCK_IVF_CENTS},
    lists AS (
        SELECT e.vec_id,
               arg_max(c1.centroid_id, {_duck_cos('e.embedding', 'c1.cv')})
                   AS centroid_id
        FROM embeddings e CROSS JOIN c1 GROUP BY e.vec_id),
    qp AS (
        SELECT q.vec_id AS query_id, c1.centroid_id,
               ROW_NUMBER() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY {_duck_cos('q.embedding', 'c1.cv')} DESC,
                            c1.centroid_id) AS prk
        FROM embeddings q CROSS JOIN c1 WHERE q.vec_id < {N_QUERIES}),
    probes AS (SELECT query_id, centroid_id FROM qp
               WHERE prk <= {IVF_NPROBE}),
    resid AS (
        SELECT e.vec_id,
               list_transform(range(1, {DIM + 1}),
                              i -> e.embedding[i] - c.cv[i]) AS r
        FROM embeddings e
        JOIN lists l ON l.vec_id = e.vec_id
        JOIN c1 c ON c.centroid_id = l.centroid_id),
    subs AS (
        SELECT vec_id, j,
               list_slice(r, j * {PQ_SUB} + 1,
                          j * {PQ_SUB} + {PQ_SUB}) AS sub
        FROM (SELECT vec_id, r,
                     unnest(range(0, {PQ_M})) AS j
              FROM resid)),
    cb AS (SELECT j, vec_id AS c, sub AS cent
           FROM subs WHERE vec_id < {PQ_K}),
    dists AS (
        SELECT s.vec_id, s.j, cb.c,
               {duck_sqdist('s.sub', 'cb.cent')} AS d
        FROM subs s JOIN cb ON cb.j = s.j),
    codes AS (
        SELECT vec_id, j, c AS code, d
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, j
                                           ORDER BY d, c) AS rk
              FROM dists)
        WHERE rk = 1),
    qresid AS (
        SELECT p.query_id, p.centroid_id,
               list_transform(range(1, {DIM + 1}),
                              i -> q.embedding[i] - c.cv[i]) AS r
        FROM probes p
        JOIN embeddings q ON q.vec_id = p.query_id
        JOIN c1 c ON c.centroid_id = p.centroid_id),
    qsubs AS (
        SELECT query_id, centroid_id, j,
               list_slice(r, j * {PQ_SUB} + 1,
                          j * {PQ_SUB} + {PQ_SUB}) AS sub
        FROM (SELECT query_id, centroid_id, r,
                     unnest(range(0, {PQ_M})) AS j
              FROM qresid)),
    qdists AS (
        SELECT qs.query_id, qs.centroid_id, qs.j, cb.c,
               {duck_sqdist('qs.sub', 'cb.cent')} AS d
        FROM qsubs qs JOIN cb ON cb.j = qs.j),
    adcj AS (
        SELECT qd.query_id, l.vec_id AS neighbor_id,
               qd.j, qd.d
        FROM qdists qd
        JOIN lists l ON l.centroid_id = qd.centroid_id
        JOIN codes co ON co.vec_id = l.vec_id
                     AND co.j = qd.j AND co.code = qd.c
        WHERE l.vec_id <> qd.query_id),
    adcp AS (
        SELECT query_id, neighbor_id,
               {', '.join(f"MAX(CASE WHEN j = {j} THEN d END) AS d{j}"
                          for j in range(PQ_M))}
        FROM adcj GROUP BY query_id, neighbor_id),
    adcv AS (SELECT query_id, neighbor_id,
                    {'(' * (PQ_M - 1)}d0{''.join(f" + d{j})" for j in range(1, PQ_M))}
                        AS adc
             FROM adcp),
    cand AS (
        SELECT query_id, neighbor_id, adc
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                           ORDER BY adc, neighbor_id)
                           AS ark
              FROM adcv)
        WHERE ark <= {KNN_K * PQ_OVERFETCH}),
    nv AS (SELECT vec_id, embedding,
                  sqrt({duck_dot('embedding', 'embedding')}) AS enorm
           FROM embeddings),
    rescored AS (
        SELECT c.query_id, c.neighbor_id, c.adc,
               {duck_dot('q.embedding', 'e.embedding')}
                   / (q.enorm * e.enorm) AS cos
        FROM cand c
        JOIN nv e ON e.vec_id = c.neighbor_id
        JOIN nv q ON q.vec_id = c.query_id),
    ranked AS (
        SELECT query_id, neighbor_id, cos, adc,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, neighbor_id) AS rank
        FROM rescored)
    SELECT query_id, neighbor_id, ROUND(cos, 6) AS cos,
           ROUND(adc, 6) AS adc, rank
    FROM ranked WHERE rank <= {KNN_K}"""


# Residual-codebook memo, same contract as _TRAINED: training is a
# one-off per corpus (at scale the codebook persists as its own tiny
# table — knn_ivfpq_lakehouse materializes exactly that), deterministic
# (fixed PQ_K rows, exact IEEE subtraction), bounded (m*k*sub doubles).
# The mtime key invalidates on in-place corpus regeneration.
_RESID_CB: dict[tuple[str, float, str], "object"] = {}


def _pq_residual_codebook(
    spark: SparkSession, sf: str, cents: DataFrame, tag: str = "ivf"
) -> "np.ndarray":
    """(m, k, sub) float64 RESIDUAL codebook: the first PQ_K vectors
    minus their own argmax-cosine centroid — trained on the same
    distribution the codes quantize (residuals), which is the point of
    the IVF-ADC formulation. The assignment and subtraction run through
    the engine's own portable ops (then a bounded 16-row collect), so
    the codebook is bit-identical to the oracle's resid CTE rows.
    Memoized per (sf, corpus mtime, tag) — retraining on every query
    call billed ~0.9 s of index construction to the serving path (r14).
    ``tag`` is the centroid-POLICY identity (the same tag passed to
    `_trained_centroids`, whose deterministic output is fully
    determined by (sf, mtime, tag)); keying the memo on it means a
    caller with a different centroid policy gets its own codebook
    rather than silently reusing one trained against other residuals
    (ADVICE r14)."""
    import numpy as np

    key = _trained_key(sf, tag)
    if key not in _RESID_CB:
        emb = read_table(spark, sf, "embeddings").filter(F.col("vec_id") < PQ_K)
        rows = (
            _assign_lists(emb, cents)
            .join(F.broadcast(cents), "centroid_id")
            .select("vec_id", "embedding", "cv")
            .orderBy("vec_id")
            .collect()
        )
        X = np.array([r.embedding for r in rows], np.float64)
        C = np.array([r.cv for r in rows], np.float64)
        _RESID_CB[key] = (X - C).reshape(PQ_K, PQ_M, PQ_SUB).transpose(1, 0, 2)
    return _RESID_CB[key]


def _pq_residual_encode_batches(cb: "np.ndarray"):
    """Arrow-batched mapInPandas encoder for the RESIDUAL formulation:
    (vec_id, pcid, embedding, cv) -> (vec_id, pcid, codes), quantizing
    x − centroid(list(x)) against the residual codebook. The subtraction
    is one exact IEEE op per element (no reordering hazard), so the
    parity with the oracle's resid CTE is bit-for-bit; the argmin ties
    to the lowest centroid, matching the ROW_NUMBER tie-break."""
    import numpy as np
    import pandas as pd

    def encode(batches):
        for pdf in batches:
            if len(pdf) == 0:
                yield pd.DataFrame({"vec_id": [], "pcid": [], "codes": []})
                continue
            V = np.stack(pdf["embedding"].map(np.asarray)).astype(np.float64)
            C = np.stack(pdf["cv"].map(np.asarray)).astype(np.float64)
            codes = _pq_sqdists(V - C, cb).argmin(-1)  # ties -> lowest c
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "pcid": pdf["pcid"],
                    "codes": [c.astype(np.int32) for c in codes],
                }
            )

    return encode


def _pq_assign_encode_batches(cent_ids: list, C: "np.ndarray", cb: "np.ndarray"):
    """FUSED map-only index build: (vec_id, embedding) -> (vec_id,
    pcid, codes) in one Arrow-batched pass — argmax-cosine list
    assignment (_sem_assign_batches' exact arithmetic: sequential-order
    dots, ascending cent_ids so ties resolve to the lowest id, the
    bit-parity contract test_sem_assign_matches_batch pins) chained
    into the residual PQ encode (x − centroid(list(x)) quantized
    against cb, _pq_residual_encode_batches' exact op). r15: this
    replaces assignment-as-aggregation (_assign_lists' corpus-wide
    groupBy(vec_id) shuffle + a broadcast join to fetch cv) with ZERO
    exchanges — at 100 TB the index build becomes a pure scan-side
    pipe, and the encoded 8-byte codes are the only thing that ever
    shuffles (into the list-partitioned landing)."""
    import numpy as np
    import pandas as pd

    cn = np.sqrt(_seq_dot_nd(C, C))

    def assign_encode(batches):
        for pdf in batches:
            if len(pdf) == 0:
                yield pd.DataFrame({"vec_id": [], "pcid": [], "codes": []})
                continue
            X = np.stack(pdf["embedding"].map(np.asarray)).astype(np.float64)
            xn = np.sqrt(_seq_dot_nd(X, X))
            cos = _seq_dot_nd(X[:, None, :], C[None]) / (xn[:, None] * cn[None])
            k = cos.argmax(1)
            codes = _pq_sqdists(X - C[k], cb).argmin(-1)  # ties -> lowest c
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "pcid": [str(int(cent_ids[j])) for j in k],
                    "codes": [c.astype(np.int32) for c in codes],
                }
            )

    return assign_encode


def _pq_coded_relation(rows: DataFrame, cent_rows: list, cb: "np.ndarray") -> DataFrame:
    """The (vec_id, pcid, codes) code relation for a set of vectors —
    the shared index-build pipe of knn_ivfpq / knn_ivfpq_lakehouse /
    knn_ivfpq_index_stream. Map-only (see _pq_assign_encode_batches);
    ``cent_rows`` is the memoized centroid row set (bounded, driver-
    side — no collect job, r15)."""
    import numpy as np

    crows = sorted(
        (int(r["centroid_id"]), list(r["cv"])) for r in cent_rows
    )
    cent_ids = [c for c, _ in crows]
    C = np.array([v for _, v in crows], np.float64)
    return rows.select("vec_id", "embedding").mapInPandas(
        _pq_assign_encode_batches(cent_ids, C, cb),
        "vec_id long, pcid string, codes array<int>",
    )


def _ivfpq_query(
    spark: SparkSession, sf: str, cb: "np.ndarray", cent_rows: list,
    coded_for,
) -> DataFrame:
    """The shared IVF-PQ QUERY path (knn_ivfpq and the materialized
    knn_ivfpq_lakehouse must return byte-identical results against one
    oracle, so probe selection, the ADC scan, and the rescore live
    once — the `_ivf_probe_and_rank` discipline). ``coded_for(pcids)``
    supplies the candidate code relation exposing (vec_id, pcid,
    codes) for the probed list ids — inline assignment+encode, or the
    committed index read pruned to those lists.

    Probe selection runs DRIVER-SIDE (r15): nq query vectors against
    the memoized centroid set, `_seq_dot_nd`'s fold-exact arithmetic
    (the bit-parity contract test_sem_assign_matches_batch pins), order
    by qcos desc with centroid_id tie-break — knn_ivf's rule, formerly
    a crossJoin + window Spark job whose ~0.5 s was pure scheduling at
    any corpus size (nq x nlist rows). One bounded job remains: the
    nq-row query-vector fetch (pushed-down point scan)."""
    import numpy as np

    emb = read_table(spark, sf, "embeddings")

    # the only probe-side job: fetch the nq query vectors by id
    qrows = sorted(
        emb.filter(F.col("vec_id") < N_QUERIES)
        .select("vec_id", "embedding")
        .collect(),
        key=lambda r: r["vec_id"],
    )
    crows = sorted((int(r["centroid_id"]), list(r["cv"])) for r in cent_rows)
    cent_ids = [c for c, _ in crows]
    Q = np.array([r["embedding"] for r in qrows], np.float64)
    C = np.array([v for _, v in crows], np.float64)
    qn = np.sqrt(_seq_dot_nd(Q, Q))
    cn = np.sqrt(_seq_dot_nd(C, C))
    qcos = _seq_dot_nd(Q[:, None, :], C[None]) / (qn[:, None] * cn[None])

    def _desc_key(qi):
        # Spark's orderBy(desc) treats NaN as GREATEST (a zero-norm
        # vector yields 0/0 = NaN); Python's sorted() with raw NaN
        # keys is order-dependent — rank NaN explicitly first so the
        # degenerate case stays deterministic and matches the window
        # this replaced (r15 review #4)
        def k(j):
            v = qcos[qi, j]
            if np.isnan(v):
                return (0, 0.0, cent_ids[j])
            return (1, -v, cent_ids[j])

        return k

    probe_rows = sorted(
        (int(qr["vec_id"]), str(cent_ids[j]))
        for qi, qr in enumerate(qrows)
        for j in sorted(range(len(cent_ids)), key=_desc_key(qi))[:IVF_NPROBE]
    )

    # per-(query, PROBED LIST) ADC LUTs — the residual formulation's
    # one structural change: the query's residual differs per probed
    # centroid, so each probe row gets its own m x k table. All bounded
    # driver-side work (nq x nprobe rows; nq·nprobe·m·k doubles at
    # any corpus size).
    Qmap = {
        int(r["vec_id"]): np.array(r["embedding"], np.float64)
        for r in qrows
    }
    Cmap = {str(c): np.array(v, np.float64) for c, v in crows}
    RQ = np.stack([Qmap[qid] - Cmap[pcid] for qid, pcid in probe_rows])
    luts = _pq_sqdists(RQ, cb)  # (nq * nprobe, m, k)
    lut_df = spark.createDataFrame(
        [
            (qid, pcid, [[float(v) for v in row] for row in luts[i]])
            for i, (qid, pcid) in enumerate(probe_rows)
        ],
        "query_id long, pcid string, lut array<array<double>>",
    )
    probe_luts = F.broadcast(lut_df)

    adc_expr = (
        "aggregate(zip_with(codes, lut, (c, row) -> element_at(row, c + 1)), "
        "CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    probed_ids = sorted({pcid for _, pcid in probe_rows})
    scored = (
        coded_for(probed_ids).alias("l")
        .join(
            probe_luts.alias("p"),
            (F.col("l.pcid") == F.col("p.pcid"))
            & (F.col("l.vec_id") != F.col("p.query_id")),
        )
        .select(
            "query_id",
            F.col("l.vec_id").alias("neighbor_id"),
            F.expr(adc_expr).alias("adc"),
        )
    )
    wa = Window.partitionBy("query_id").orderBy(
        F.col("adc").asc(), F.col("neighbor_id")
    )
    cand = (
        scored.withColumn("ark", F.row_number().over(wa))
        .filter(F.col("ark") <= KNN_K * PQ_OVERFETCH)
        .select("query_id", "neighbor_id", "adc")
    )

    # exact rescore by id (the only float fetch in the serving path)
    embn = _with_norm(emb, "embedding", "enorm")
    q = F.broadcast(
        embn.filter(F.col("vec_id") < N_QUERIES).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qe"),
            F.col("enorm").alias("qnorm"),
        )
    )
    rescored = (
        embn.select("vec_id", "embedding", "enorm")
        .join(F.broadcast(cand), F.col("vec_id") == F.col("neighbor_id"))
        .join(q, "query_id")
        .select(
            "query_id",
            "neighbor_id",
            "adc",
            (
                F.expr(spark_dot("qe", "embedding"))
                / (F.col("qnorm") * F.col("enorm"))
            ).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    return (
        rescored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= KNN_K)
        .select(
            "query_id",
            "neighbor_id",
            F.round(F.col("cos"), 6).alias("cos"),
            F.round(F.col("adc"), 6).alias("adc"),
            "rank",
        )
    )


@register("knn_ivfpq", _IVFPQ_ORACLE)
def knn_ivfpq(spark: SparkSession, sf: str) -> DataFrame:
    """IVF-PQ with RESIDUAL encoding: inverted lists x product
    quantization over (x − centroid of x's list) — the published
    IVF-ADC formulation (Jégou et al., PQ for NN search) and the FAISS
    index layout that serves billion-vector ANN (VERDICT r12 #6, r13
    raw-code first cut, r14 residuals). Train = knn_ivf's
    one-k-means-step centroids (memoized per corpus) + a 16x8x8
    codebook of the first {PQ_K} vectors' RESIDUALS. Index = ONE pass
    over the corpus: each vector's argmax-cosine list assignment (one
    shuffle, map-side partial max_by), centroid vectors riding the
    broadcast join, chained into a map-only Arrow-batched residual
    encode producing 8 four-bit codes — after which the float vector
    is only ever fetched BY ID for the rescore.

    Query = probe nprobe={IVF_NPROBE} nearest lists by centroid cosine
    (8-row broadcast), ADC-scan ONLY those lists' codes with a
    broadcast LUT per (query, PROBED LIST) — the query residual
    differs per probed centroid, the structural cost of residual
    encoding, still nq·nprobe·m·k bounded driver-side doubles at any
    corpus size — one JVM-side fold per candidate, no float vectors
    moving. Overfetch K*{PQ_OVERFETCH}, exact-cosine rescore by id,
    top {KNN_K}. Emitting both `cos` and `adc` keeps the quantization
    error oracle-observable. The shared query path (`_ivfpq_query`)
    also serves the MATERIALIZED index variant (`knn_ivfpq_lakehouse`)
    against the same oracle. Recall@{KNN_K} vs raw-vector codes at the
    same 8-byte budget: see PERF.md (r14).

    Scale shape (the 100 TB composition argument): the corpus at rest
    is 8 bytes/vector of codes PARTITIONED BY list id — a probe reads
    nprobe/nlist of the index (partition pruning does it when the
    codes land as a list-partitioned table — knn_ivfpq_lakehouse), and
    the ADC scan's per-candidate cost is m=8 table lookups. nlist
    follows the count-derived tier table, nprobe trades recall for
    scan fraction, and the rescore touches K*overfetch full vectors
    per query — the only float I/O in the whole serving path."""
    emb = read_table(spark, sf, "embeddings")
    cents = _trained_centroids(spark, sf)
    cb = _pq_residual_codebook(spark, sf, cents)
    cent_rows = _trained_centroid_rows(spark, sf)

    def coded_for(pcids):
        # inline index build: ONE fused map-only assign+encode pass
        # (r15 — the corpus-wide groupBy(vec_id) assignment shuffle
        # and the cv broadcast join are gone; see
        # _pq_assign_encode_batches)
        return _pq_coded_relation(emb, cent_rows, cb)

    return _ivfpq_query(spark, sf, cb, cent_rows, coded_for)


@register("knn_ivfpq_lakehouse", _IVFPQ_ORACLE)
def knn_ivfpq_lakehouse(spark: SparkSession, sf: str) -> DataFrame:
    """The production form of `knn_ivfpq` (the `knn_index_lakehouse`
    discipline applied to the PQ index): the (vec_id, codes) rows —
    8 bytes/vector, no floats — are a MATERIALIZED commit-log table
    PARTITIONED BY list id, built once and grown INCREMENTALLY (a
    held-out tenth arrives later: centroid assignment + PQ encode are
    a broadcast-and-map-only pass over just the batch, appended in one
    O(batch) commit — the corpus is never re-encoded). Queries touch
    only their nprobe probed lists: the probe filter on the partition
    column collapses unprobed lists before any file opens — at 100 TB
    a probe reads nprobe/nlist of an index that is already 32x smaller
    than the vectors. Same oracle as `knn_ivfpq`: materializing the
    index changes WHERE bytes live, never the answer."""
    from nshm2022db_spark.sources.scratch import (
        is_landed,
        mark_landed,
        scratch_path,
    )
    from nshm2022db_spark.streaming.sinks import (
        append_partition_transaction,
        committed_partition_transaction,
        read_keyed_table,
    )

    emb = read_table(spark, sf, "embeddings")
    cents = _trained_centroids(spark, sf)
    cb = _pq_residual_codebook(spark, sf, cents)
    cent_rows = _trained_centroid_rows(spark, sf)

    def build(rows: DataFrame) -> DataFrame:
        return _pq_coded_relation(rows, cent_rows, cb).select(
            "vec_id", "codes", F.col("pcid").alias("centroid_id")
        )

    # r14 key bump: codes are residual-encoded now; an r13 landing
    # holds raw-vector codes
    base = scratch_path("ivfpq_index_lakehouse_r14", sf)
    path = os.path.join(base, "pq_lists")
    if not is_landed(base):
        initial = build(emb.filter(F.col("vec_id") % 10 != 0))
        committed_partition_transaction(
            spark, path, "centroid_id", lambda b: initial
        )
        late = build(emb.filter(F.col("vec_id") % 10 == 0))
        append_partition_transaction(spark, path, "centroid_id", late)
        mark_landed(base)
    idx = read_keyed_table(spark, path)

    def coded_for(pcids):
        return idx.filter(
            F.col("centroid_id").isin(list(pcids))
        ).withColumn("pcid", F.col("centroid_id"))

    return _ivfpq_query(spark, sf, cb, cent_rows, coded_for)


@register("knn_ivfpq_index_stream", _IVFPQ_ORACLE)
def knn_ivfpq_index_stream(spark: SparkSession, sf: str) -> DataFrame:
    """The STREAMING-MAINTAINED IVF-PQ index — the ANN leg of the
    search-symmetry story (VERDICT r14 #5): tfidf/BM25 already serve
    from a streaming-maintained inverted index; here the vector index
    gets the same treatment. Embeddings arrive as a micro-batch replay
    (emb_stream) and each batch foreachBatch-commits its OWN vectors'
    residual PQ codes into the list-partitioned code table:
    assignment + encode are a broadcast-and-map-only pass over just
    the batch, the append is ONE O(batch) commit, exactly-once by
    batch_id (a replayed batch no-ops through the committed-ids
    ledger). The corpus is never re-encoded; the index grows O(batch)
    per trigger — cost tracks arrival rate, not table size.

    Value pin: the oracle is knn_ivfpq's — streamed-index == inline ==
    batch-lakehouse is the gate itself, the same three-way pin the
    TF-IDF family carries. The serving path is byte-identical
    (_ivfpq_query over the probed lists, partition-pruned); only WHERE
    the codes came from differs. Index lands once per corpus
    (scratch-memoized): the measured thing is the query side, flat in
    corpus size."""
    from nshm2022db_spark.sources.scratch import (
        is_landed,
        mark_landed,
        scratch_path,
    )
    from nshm2022db_spark.streaming.events import emb_stream
    from nshm2022db_spark.streaming.sinks import (
        append_partition_transaction,
        compact_partition_table,
        read_keyed_table,
    )

    cents = _trained_centroids(spark, sf)
    cb = _pq_residual_codebook(spark, sf, cents)
    cent_rows = _trained_centroid_rows(spark, sf)

    def build(rows: DataFrame) -> DataFrame:
        # identical encode chain to knn_ivfpq_lakehouse's build — the
        # memoized centroid rows are session-free driver state, so the
        # batch session needs no DataFrame re-materialization at all
        return _pq_coded_relation(rows, cent_rows, cb).select(
            "vec_id", "codes", F.col("pcid").alias("centroid_id")
        )

    base = scratch_path("ivfpq_index_stream_r15", sf)
    path = os.path.join(base, "pq_lists")
    if not is_landed(base):
        ckpt = os.path.join(base, "ckpt")

        def apply_batch(bdf: DataFrame, bid: int) -> None:
            append_partition_transaction(
                bdf.sparkSession, path, "centroid_id", build(bdf),
                batch_id=bid,
            )

        q = (
            emb_stream(spark, sf)
            .writeStream.foreachBatch(apply_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        # closing compaction, the bm25_index_stream discipline: each
        # micro-batch committed one generation per touched list, and
        # without this every probe pays per-batch file opens forever
        # (r15 review #6); compaction is a dataChange=false rewrite,
        # so the probe path and values are untouched
        compact_partition_table(spark, path, max_files_per_partition=1)
        mark_landed(base)
    idx = read_keyed_table(spark, path)

    def coded_for(pcids):
        return idx.filter(
            F.col("centroid_id").isin(list(pcids))
        ).withColumn("pcid", F.col("centroid_id"))

    return _ivfpq_query(spark, sf, cb, cent_rows, coded_for)
