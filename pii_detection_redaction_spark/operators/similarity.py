"""Similarity search over embedding columns (array<float>).

Two paths, as a scale story:

- ``cosine_topk_bruteforce``: exact top-k — a broadcast join of the (small)
  query set against every row, dot products computed JVM-side with
  ``F.aggregate``/``F.zip_with`` (no Python in the hot path), then a
  per-query ``row_number`` window over the similarity. O(n_queries * n_rows)
  but embarrassingly parallel and shuffle-light (the window partitions by
  query id — n_queries keys, each with n_rows rows pre-filtered to
  candidates' top-k via no pre-filter here; at 100 TB you bound n_queries or
  use the LSH path).
- ``cosine_topk_lsh``: approximate — random-hyperplane LSH (Charikar):
  ``nbits`` sign bits from deterministic seeded hyperplanes form a bucket
  key; queries join only their bucket (plus optional multi-probe neighbors),
  then exact re-rank inside the bucket. The join is an equi-join on the
  bucket key → broadcastable and skew-safe; recall is tunable via nbits /
  probes. This is the 1000-executor path: candidate set per query shrinks by
  ~2^nbits.
"""

from __future__ import annotations

from typing import List, Optional

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

import numpy as np

from ..core.hashing import LSH_SEED as SEED
from ..core.hashing import lsh_hyperplanes as _hyperplanes


def _lit_dvec(values) -> F.Column:
    """array<double> literal in ONE py4j call. ``F.lit(list)`` expands to
    ``array(*[lit(x) …])`` — a py4j round trip per element, which at
    (n_centroids x dim) literals made plan CONSTRUCTION dominate the IVF
    query (measured: 3.5-9s building the DataFrame vs 1-2s executing it).
    A 1-D float64 ndarray takes pyspark's single-call ndarray fast path;
    the Py4J double[] conversion is bit-exact."""
    return F.lit(np.asarray(values, dtype=np.float64))


def _dot(a, b):
    # promote BEFORE multiplying: float32 x float32 stays float32 in Spark,
    # and the rounded products diverge from double math at ~1e-9 — enough to
    # flip a 6dp-rounded cosine on ~1/500 pairs (caught by the sf0.1 DuckDB
    # differential, whose products are computed in double).
    #
    # This HOF fold IS the fast spelling (measured on the 2M-pair sf0.1
    # self-join, steady state): 1.06s here vs 4.8-5.3s for a 64-term
    # unrolled `a[i]*b[i]` sum (the giant expression tree drops out of
    # efficient codegen) and 1.29s for an Arrow pandas-UDF numpy left-fold
    # (transfer-bound). Don't "optimize" this into either form.
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
        )
    )


def _cosine_from(dot, na, nb):
    """cosine from a precomputed dot and the two norms; NULL (not NaN) when
    either vector is all-zeros — Spark orders NaN ABOVE every double and
    treats NaN >= t as true, so an unguarded zero vector would rank #1 for
    every query and flood near-dup output; NULL sorts last under desc and
    fails every threshold filter (matching DuckDB, where NaN comparisons are
    false)."""
    return F.when((na > 0.0) & (nb > 0.0), dot / (na * nb))


# Loud-failure bounds on the quadratic arms. These are correctness
# baselines, not scale paths: past the bound the caller almost certainly
# reached for the wrong operator, and the job would run for hours (or OOM a
# driver-broadcast) before anyone noticed. Overridable per call (None
# disables — e.g. a deliberately oversized offline verification run).
PAIRS_MAX_ROWS = 100_000     # n² candidate pairs: 100k rows ≈ 5e9 pairs
TOPK_MAX_QUERIES = 10_000    # broadcast side of the O(n·q) cross join


def _guard_rows(
    df: DataFrame, bound, what: str, use_instead: str, probe_col: str
) -> None:
    """EAGER probe (a deliberate exception to builder laziness): one
    column-pruned ``limit(bound+1).count()`` job at construction time —
    scanning stops at the bound and only ``probe_col`` is read, so the
    cost is a sliver of the quadratic job being vetoed. Callers that need
    pure-builder semantics (plan inspection, speculative construction)
    pass the bound parameter as None and own the blast radius."""
    if bound is None:
        return
    if df.select(probe_col).limit(bound + 1).count() > bound:
        raise ValueError(
            f"{what} exceeds {bound} rows — this is the quadratic "
            f"correctness baseline, not the scale path; use {use_instead} "
            f"(or pass the bound parameter explicitly, None to disable)"
        )


def cosine_topk_bruteforce(
    items: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    max_queries: Optional[int] = TOPK_MAX_QUERIES,
) -> DataFrame:
    """Exact cosine top-k per query. ``queries`` must be small (broadcast;
    ``max_queries`` guards the O(n·q) blowup — ``items`` may be any size,
    the scan stays linear and distributed). Norms are computed once per ROW
    before the join (not once per pair — bit-identical doubles, a third of
    the FLOPs on the O(n x q) hot path)."""
    _guard_rows(
        queries, max_queries, "cosine_topk_bruteforce queries side",
        "cosine_topk_ivf / cosine_topk_lsh", query_id_col,
    )
    q = queries.select(
        F.col(query_id_col),
        F.col(vec_col).alias("__qvec"),
        _norm(F.col(vec_col)).alias("__qnorm"),
    )
    joined = items.select(
        F.col(id_col),
        F.col(vec_col).alias("__ivec"),
        _norm(F.col(vec_col)).alias("__inorm"),
    ).crossJoin(F.broadcast(q))
    scored = joined.withColumn(
        "cosine",
        _cosine_from(
            _dot(F.col("__ivec"), F.col("__qvec")),
            F.col("__inorm"),
            F.col("__qnorm"),
        ),
    ).filter(F.col(id_col) != F.col(query_id_col))
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("cosine"), F.asc(id_col)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, F.round("cosine", 6).alias("cosine"), "rank")
    )


def lsh_bucket_col(vec_col, dim: int, nbits: int = 8, seed: int = SEED):
    """Random-hyperplane sign-bucket key as a JVM expression: for each plane,
    bit = (dot(vec, plane) >= 0); bucket = bits as integer."""
    bucket = F.lit(0)
    for i, plane in enumerate(_hyperplanes(dim, nbits, seed)):
        arr = _lit_dvec(plane)  # one py4j call per plane, not one per element
        bit = (_dot(vec_col, arr) >= 0).cast("int")
        bucket = bucket + (bit * F.lit(1 << i))
    return bucket


def cosine_near_dup_pairs(
    items: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_rows: Optional[int] = PAIRS_MAX_ROWS,
) -> DataFrame:
    """Exact embedding near-dup pairs: all (id_a < id_b) with rounded cosine
    >= threshold. O(n²) self-join — the correctness baseline, guarded by
    ``max_rows`` (fails loudly instead of launching a quadratic job); use
    ``cosine_near_dup_lsh`` at scale. Threshold compares the 6dp-rounded
    cosine so the decision is engine-stable (matches the DuckDB oracle)."""
    _guard_rows(items, max_rows, "cosine_near_dup_pairs input",
                "cosine_near_dup_lsh", id_col)
    a = items.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va"),
                     _norm(F.col(vec_col)).alias("__na"))
    b = items.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb"),
                     _norm(F.col(vec_col)).alias("__nb"))
    cos = _cosine_from(_dot(F.col("__va"), F.col("__vb")),
                       F.col("__na"), F.col("__nb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", F.round(cos, 6))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def cosine_near_dup_lsh(
    items: DataFrame,
    threshold: float,
    dim: int,
    nbits: int = 4,
    n_seeds: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate near-dup pairs: candidates are generated only within LSH
    sign buckets (equi self-join on the bucket key — shuffle-partitioned by
    bucket, no n² blowup), then verified with the exact cosine. Recall < 1 by
    construction (cross-bucket pairs are missed). This is the 100-TB path:
    per-bucket candidate count shrinks ~2^nbits.

    ``n_seeds`` is the recall knob: each extra seed hashes every vector with
    an independent hyperplane set, and a pair is a candidate if it collides
    under ANY seed — recall 1-(1-p)^s for per-seed collision probability p,
    at s× the join cost (the classic OR-amplification trade; pinned by
    ``test_near_dup_lsh_multi_seed_recall``). With one seed every vector has
    exactly ONE bucket key, so the join emits each (id_a, id_b) at most once
    and a dedup stage would be a dead Exchange + HashAggregate over the
    whole output; with several seeds the same pair can collide under more
    than one, so candidates are deduped on (id_a, id_b) BEFORE the cosine
    verify (dedup moves two longs per pair, not the vectors)."""
    seeds = [SEED + s for s in range(max(1, n_seeds))]
    wb = None
    for i, seed in enumerate(seeds):
        t = items.select(
            F.lit(i).alias("__seed"),
            lsh_bucket_col(F.col(vec_col), dim, nbits, seed=seed).alias("bucket"),
            F.col(id_col),
            F.col(vec_col),
        )
        wb = t if wb is None else wb.union(t)
    a = wb.select("__seed", "bucket", F.col(id_col).alias("id_a"))
    b = wb.select("__seed", "bucket", F.col(id_col).alias("id_b"))
    cand = a.join(b, ["__seed", "bucket"]).filter(F.col("id_a") < F.col("id_b"))
    if len(seeds) > 1:
        cand = cand.select("id_a", "id_b").dropDuplicates(["id_a", "id_b"])
    else:
        cand = cand.select("id_a", "id_b")
    va = items.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va"),
                      _norm(F.col(vec_col)).alias("__na"))
    vb = items.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb"),
                      _norm(F.col(vec_col)).alias("__nb"))
    cos = _cosine_from(_dot(F.col("__va"), F.col("__vb")),
                       F.col("__na"), F.col("__nb"))
    return (
        cand.join(va, "id_a").join(vb, "id_b")
        .withColumn("cosine", F.round(cos, 6))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def _centroids(items: DataFrame, n: int, id_col: str, vec_col: str) -> List[List[float]]:
    """Deterministic centroid pick: the n lowest-id vectors. A k-means++
    -style farthest-point seeding was measured on the sf0.001 embeddings
    (16 centroids, 6 probes, top-5): recall 0.92 vs 0.92 and the same
    assignment-list balance (min/max 20-21/42-44) — zero gain on
    directionally-uniform vectors, where any fixed sample is as spread as a
    greedy one. Kept lowest-id: the selection step itself stays re-derivable
    in the DuckDB oracle (ORDER BY vec_id LIMIT n), which a data-adaptive
    pick would reduce to embedded literals. Revisit only for clustered
    embedding distributions, where adaptive lists genuinely balance load."""
    rows = items.orderBy(F.asc(id_col)).select(vec_col).limit(n).collect()
    return [[float(x) for x in r[0]] for r in rows]


def _centroid_sims(vec_name: str, norm_name: str, cents: List[List[float]]):
    """Array of cosines to each centroid, built as ONE ``F.expr`` SQL string.

    Two plan-construction costs make the obvious Column-algebra spelling
    driver-bound: per-element ``F.lit`` (a py4j round trip each) and lambda
    creation for ``zip_with``/``aggregate`` (~30 round trips per centroid).
    At n_centroids=16 x dim=64, called twice per IVF query, that was ~3s of
    single-threaded driver time per query build — and under co-tenant CPU
    steal it stretched 10x (the bench measured 31s once), because unlike the
    executor phase it has no parallel slack. One SQL string is one round
    trip and a ~20 KB JVM parse.

    Semantics are bit-identical to ``_cosine_from(_dot(vec, lit_cent),
    norm, lit(nc))``: the lambda bodies are the exact SQL the Column
    version lowers to; double literals go through ``repr`` (shortest
    round-trip decimal), which Java's correctly-rounded parse restores to
    the same bits; centroid norms are plan-time floats whose left-fold
    ``acc += w*w`` matches ``_norm``'s sequential aggregate order.

    The vector's norm arrives as a precomputed COLUMN (computed once per
    row in a prior projection — inlining ``_norm`` here would copy it into
    all n_centroids entries, tripling the per-row lambda work; measured
    5.5s -> 1.5s execution for the IVF query at sf0.1)."""
    import math

    def d(v: float) -> str:
        return f"CAST('{v!r}' AS DOUBLE)"  # parse, not lexer: handles 1e-05

    sims = []
    for c in cents:
        acc = 0.0
        for w in c:
            acc += w * w
        nc = math.sqrt(acc)
        arr = "array(" + ", ".join(d(float(w)) for w in c) + ")"
        dot = (
            f"aggregate(zip_with(`{vec_name}`, {arr}, "
            "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
            "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
        )
        sims.append(
            f"CASE WHEN (`{norm_name}` > CAST(0.0 AS DOUBLE)) "
            f"AND ({d(nc)} > CAST(0.0 AS DOUBLE)) "
            f"THEN {dot} / (`{norm_name}` * {d(nc)}) END"
        )
    return F.expr("array(" + ", ".join(sims) + ")")


def cosine_topk_ivf(
    items: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: items are assigned to their
    nearest centroid (one JVM expression — no Python, no shuffle); each query
    probes its ``n_probe`` nearest centroid lists and re-ranks exactly inside
    them. The join is an equi-join on the centroid id, so candidate volume is
    ~n_probe/n_centroids of the corpus — the IVF scale story, complementary
    to LSH (data-adaptive lists vs oblivious hyperplanes)."""
    cents = _centroids(items, n_centroids, id_col, vec_col)
    # two-step projection: __inorm lands in its own Project so Catalyst's
    # CollapseProject keeps ONE copy (it refuses to inline a non-cheap alias
    # referenced n_centroids times) — the norm is computed per ROW, not per
    # (row, centroid), and is reused again for the candidate re-rank below
    ibase = items.select(
        F.col(id_col),
        F.col(vec_col).alias("__ivec"),
        _norm(F.col(vec_col)).alias("__inorm"),
    )
    item_sims = _centroid_sims("__ivec", "__inorm", cents)
    ib = ibase.select(
        F.col(id_col),
        "__ivec",
        "__inorm",
        # first max position: deterministic on ties
        (F.array_position(item_sims, F.array_max(item_sims)) - 1)
        .cast("int")
        .alias("centroid"),
    )
    qbase = queries.select(
        F.col(query_id_col),
        F.col(vec_col).alias("__qvec"),
        _norm(F.col(vec_col)).alias("__qnorm"),
    )
    q_sims = _centroid_sims("__qvec", "__qnorm", cents)
    ranked = F.slice(
        F.reverse(
            F.array_sort(
                F.zip_with(
                    q_sims,
                    F.sequence(F.lit(0), F.lit(len(cents) - 1)),
                    lambda s, i: F.struct(s.alias("sim"), i.alias("idx")),
                )
            )
        ),
        1,
        n_probe,
    )
    qb = qbase.select(
        F.col(query_id_col),
        "__qvec",
        "__qnorm",
        F.explode(F.transform(ranked, lambda s: s["idx"])).alias("centroid"),
    )
    cand = ib.join(F.broadcast(qb), "centroid")
    scored = cand.withColumn(
        "cosine",
        _cosine_from(
            _dot(F.col("__ivec"), F.col("__qvec")),
            F.col("__inorm"),
            F.col("__qnorm"),
        ),
    ).filter(F.col(id_col) != F.col(query_id_col))
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cosine"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, F.round("cosine", 6).alias("cosine"), "rank")
    )


def cosine_topk_lsh(
    items: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    nbits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Approximate top-k: bucket join then exact re-rank within the bucket.
    Norms precomputed per row, not per pair (see cosine_topk_bruteforce)."""
    ib = items.withColumn("bucket", lsh_bucket_col(F.col(vec_col), dim, nbits))
    qb = queries.withColumn("bucket", lsh_bucket_col(F.col(vec_col), dim, nbits))
    q = qb.select(
        F.col(query_id_col), F.col("bucket"), F.col(vec_col).alias("__qvec"),
        _norm(F.col(vec_col)).alias("__qnorm"),
    )
    cand = ib.select(
        F.col(id_col), "bucket", F.col(vec_col).alias("__ivec"),
        _norm(F.col(vec_col)).alias("__inorm"),
    ).join(F.broadcast(q), "bucket")
    scored = cand.withColumn(
        "cosine",
        _cosine_from(
            _dot(F.col("__ivec"), F.col("__qvec")),
            F.col("__inorm"), F.col("__qnorm"),
        ),
    ).filter(F.col(id_col) != F.col(query_id_col))
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cosine"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, F.round("cosine", 6).alias("cosine"), "rank")
    )


# --- semantic outlier filtering (centroid distance) ---------------------------

# catalog-query threshold: docs whose embedding's cosine to the corpus
# centroid falls below this are domain outliers (~10% of the synthetic
# embeddings table) — the SemDeDup/SSL-prototype-style semantic filter
SEM_OUTLIER_MIN = -0.10


def centroid_cosines(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """(id, cos_centroid): every vector's cosine to the corpus centroid —
    the semantic-quality signal behind SemDeDup-style domain filtering
    ("drop documents far from the corpus's semantic mass").

    Scale: the centroid is ONE (pos, value) explode + per-position avg —
    map-side partials, shuffle of dim x n_partitions partial rows, driver
    collect bounded by the DIMENSION (like the IVF centroid collect), never
    by corpus size. It then folds into the cosine expression as literals,
    so the scoring pass is row-local JVM (promote-to-double before
    multiply, same discipline as ``_dot``) with no second shuffle. The
    DuckDB oracle recomputes the centroid itself — the avg is cross-engine
    stable far below the 6dp rounding."""
    cen_rows = (
        df.select(F.posexplode(F.col(vec_col)).alias("pos", "v"))
        .groupBy("pos")
        .agg(F.avg(F.col("v").cast("double")).alias("m"))
        .collect()
    )
    cen = [float(r.m) for r in sorted(cen_rows, key=lambda r: r.pos)]
    cen_arr = _lit_dvec(cen)  # one py4j call, not one per element
    # centroid norm: computed left-to-right from the collected values —
    # the same sequential order DuckDB's list_sum uses
    import math

    acc = 0.0
    for m in cen:
        acc += m * m
    nc = math.sqrt(acc)  # IEEE sqrt, == DuckDB sqrt (pow(x,0.5) is NOT)
    dot = _dot(F.col(vec_col), cen_arr)
    na = _norm(F.col(vec_col))
    return df.select(
        F.col(id_col),
        _cosine_from(dot, na, F.lit(nc)).alias("cos_centroid"),
    )
