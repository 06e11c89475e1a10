"""Similarity search over an embedding column (array<float>).

- :func:`brute_force_topk` — exact cosine top-k, queries broadcast
  against the corpus (the correctness baseline);
- :func:`hyperplane_lsh_topk` — random-hyperplane LSH buckets: sign-bit
  signatures, equi-join on bucket prefix, rank within bucket (the scale
  path: candidate set ~ corpus/2^bits per query);
- :func:`ivf_topk` — IVF-style: deterministic seed centroids, corpus
  partitioned by nearest centroid, queries probe the ``nprobe`` nearest
  lists.

Vector math here is ``F.zip_with`` / ``F.aggregate`` on JVM-side
arrays cast to double — the top-k scorers' per-query candidate sets
are bounded by design, where the interpreted fold A/B-measured
breakeven-vs-Arrow. The ALL-PAIRS near-dup verifies (unbounded
candidate frames, ``operators/dedup._cosine_verify``) instead use
:func:`pair_dot_arrow`, a bit-identical Arrow batch fold. Planes /
centroids are tiny and broadcast.

Scale: the corpus side never replicates; queries (small) broadcast. The
bucket/centroid joins are shuffle equi-joins; AQE splits skewed buckets.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.window import Window


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def projection_signs(
    out_dim: int, in_dim: int, seed: str = "rp"
) -> list[list[float]]:
    """Deterministic ±1 sign matrix for :func:`random_projection`:
    sign(j, i) = +1 iff the first md5 hex nibble of ``"{seed}:{j}:{i}"``
    is < 8. A pure function of (seed, j, i) — no RNG state — so the
    SAME literals generate the Spark expressions and the DuckDB oracle,
    and any engine/rerun/cluster-size produces the identical matrix."""
    import hashlib

    return [
        [
            1.0
            if int(hashlib.md5(f"{seed}:{j}:{i}".encode()).hexdigest()[0], 16) < 8
            else -1.0
            for i in range(in_dim)
        ]
        for j in range(out_dim)
    ]


def random_projection(
    df: DataFrame,
    out_dim: int,
    in_dim: int,
    seed: str = "rp",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Johnson-Lindenstrauss sign projection (the Achlioptas 2003 ±1
    variant): ``p_j = (1/sqrt(out_dim)) · Σ_i sign(j,i)·v[i]`` — reduce
    ``in_dim``-dim embeddings to ``out_dim`` columns ``p0..p{k-1}``
    while approximately preserving pairwise distances. The cheap front
    end for ANN indexing / dedup blocking when the raw embedding width
    dominates shuffle payloads.

    Entirely ROW-LOCAL (zero shuffle): each output dim is one
    ``dot(vec, sign_literals)`` fold evaluated in the scan stage; the
    sign matrix lives in the plan as literals (out_dim × in_dim values
    — bounded by the projection shape, never by data). Input vectors
    must have length ``in_dim`` (``zip_with`` truncates to the shorter
    side, so a short vector silently projects its prefix — the caller's
    schema contract, same as the rest of this module).
    """
    import math

    if out_dim < 1 or in_dim < 1:
        raise ValueError(f"dims must be positive, got {out_dim}x{in_dim}")
    signs = projection_signs(out_dim, in_dim, seed)
    scale = 1.0 / math.sqrt(out_dim)
    cols: list[Column] = [F.col(id_col)]
    for j in range(out_dim):
        arr = F.array(*[F.lit(v) for v in signs[j]])
        cols.append((dot(F.col(vec_col), arr) * F.lit(scale)).alias(f"p{j}"))
    return df.select(*cols)


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def pair_dot_arrow(df: DataFrame, a_col: str, b_col: str, out_col: str = "__dot") -> DataFrame:
    """Append the exact dot product of two vector columns, computed over
    Arrow batches; the two vector columns are DROPPED from the output
    (they are spent after scoring — dropping avoids re-serializing the
    float payload back to the JVM).

    BIT-IDENTICAL to :func:`dot`'s interpreted fold: the fold casts each
    float elementwise to double and accumulates left-to-right in a
    double; ``np.cumsum`` over the elementwise-double product is the
    same sequential float64 accumulation (verified elementwise-equal on
    random vectors) — so downstream `round(..., 4)` values and oracle
    hashes are unchanged.

    WHEN to use (A/B-measured): wins on UNBOUNDED candidate-pair
    frames — the near-dup verify shape, where pair count grows with
    corpus clustering (−12% wall at 50k clustered vectors, growing
    with pair count). Breakeven-to-slower on the top-k scorers'
    by-design-bounded candidate sets (the Arrow serialization
    round-trip outweighs the fold win there) — those keep the
    expression dot.

    NULL vectors and length mismatches yield NULL, matching
    ``zip_with`` null-padding + fold NULL propagation; two empty arrays
    yield 0.0 (the fold's initial accumulator)."""
    import pandas as pd

    out_cols = [c for c in df.columns if c not in (a_col, b_col)]
    schema = ", ".join(
        f"{c} {df.schema[c].dataType.simpleString()}" for c in out_cols
    ) + f", {out_col} double"

    def fold(batches):
        for pdf in batches:
            A, B = pdf[a_col], pdf[b_col]
            n = len(pdf)
            dots: list[float | None] = [None] * n
            lens_a = [(-1 if x is None else len(x)) for x in A]
            lens_b = [(-1 if x is None else len(x)) for x in B]
            uniform = (
                n > 0
                and min(lens_a) == max(lens_a) == min(lens_b) == max(lens_b)
                and lens_a[0] > 0
            )
            if uniform:
                Av = np.stack([np.asarray(x, dtype=np.float64) for x in A])
                Bv = np.stack([np.asarray(x, dtype=np.float64) for x in B])
                dots = np.cumsum(Av * Bv, axis=1)[:, -1].tolist()
            else:
                for i, (a, b) in enumerate(zip(A, B)):
                    if a is None or b is None or len(a) != len(b):
                        continue  # NULL, like zip_with padding
                    if len(a) == 0:
                        dots[i] = 0.0
                        continue
                    prod = np.asarray(a, dtype=np.float64) * np.asarray(b, dtype=np.float64)
                    dots[i] = float(np.cumsum(prod)[-1])
            out = pdf[out_cols].copy()
            out[out_col] = pd.Series(dots, dtype="float64")
            yield out

    return df.mapInPandas(fold, schema)


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    round_dp: int | None = 4,
) -> DataFrame:
    """Exact cosine top-k per query: (query_id, neighbor_id, rank, score).

    Queries are broadcast; the corpus streams through once (narrow map +
    per-query top-k aggregation). Self-matches are excluded.
    Deterministic tie-break: (-score, neighbor_id).
    """
    # Norms are staged per SIDE below the join (the join boundary is the
    # "let" — see PLANS.md HOF let-binding idiom): one norm fold per
    # corpus row and per query row, not two folds per (corpus x query)
    # pair. Same fold expression, so scores are bit-identical.
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
        ).withColumn("__qn", norm(F.col("qvec")))
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cvec")
    ).withColumn("__cn", norm(F.col("cvec")))
    # Expression dot, deliberately: per-query candidate sets here are
    # bounded by design (k-NN scoring, not all-pairs verify), and the
    # Arrow fold A/B-measured breakeven-to-slower at this shape (the
    # serialization overhead outweighs the fold win; pair_dot_arrow
    # documents where the opposite holds).
    score = dot(F.col("qvec"), F.col("cvec")) / (F.col("__qn") * F.col("__cn"))
    if round_dp is not None:
        score = F.round(score, round_dp)
    scored = (
        c.crossJoin(q)
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", score.alias("score"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.col("rank").cast("long").alias("rank"), "score")
    )


def _planes(dim: int, bits: int, seed: int) -> list[list[float]]:
    """Deterministic random hyperplanes (driver-side numpy, broadcast as
    literals — a few KB)."""
    rng = np.random.default_rng(seed)
    return rng.standard_normal((bits, dim)).tolist()


def _sign_bits(vec: Column, planes: list[list[float]]) -> Column:
    """Bucket key: concatenated sign bits of plane projections."""
    bits = []
    for p in planes:
        proj = F.aggregate(
            F.zip_with(
                vec,
                F.array(*[F.lit(float(x)) for x in p]),
                lambda v, w: v.cast("double") * w,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bits.append(F.when(proj >= 0, F.lit("1")).otherwise(F.lit("0")))
    return F.concat(*bits)


def coord_plane_dims(dim: int, bits: int, sets: int, seed: int) -> list[list[int]]:
    """Deterministic coordinate subsets for sign-bit LSH: ``sets`` lists
    of ``bits`` 0-based dimension indices. Axis-aligned hyperplanes
    (sign of a raw coordinate) instead of random projections: for
    isotropic embeddings the collision probability per bit is the same
    1 - θ/π as a random hyperplane (rotation invariance), but the
    bucket key needs NO floating-point arithmetic — the sign of a
    stored float is bit-exact in every engine, so a single-node oracle
    can replicate buckets exactly."""
    import random

    rng = random.Random(seed)
    return [rng.sample(range(dim), bits) for _ in range(sets)]


def coord_sign_buckets(vec: Column, dims: list[list[int]]) -> Column:
    """Array of per-set bucket keys: ``"<set>|<sign bits>"`` with bit i
    = 1 iff vec[dims[s][i]] >= 0."""
    keys = []
    for s, ds in enumerate(dims):
        bits = [
            F.when(F.element_at(vec, d + 1) >= 0, F.lit("1")).otherwise(F.lit("0"))
            for d in ds
        ]
        keys.append(F.concat(F.lit(f"{s}|"), *bits))
    return F.array(*keys)


def hyperplane_lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    bits: int = 8,
    dim: int = 64,
    seed: int = 42,
    stage_corpus_norm: bool = True,
) -> DataFrame:
    """Approximate top-k: candidates share the query's LSH bucket.

    Equi-join on the bucket key (shuffle join, corpus never
    replicated). Recall < 1 by construction; raise recall by lowering
    ``bits`` or unioning multiple plane sets (multiprobe).

    The query-side norm is always staged below the join (queries are
    the replicated side — one fold per query, reused for every
    candidate). ``stage_corpus_norm`` picks where the corpus norm
    folds: staged (True, default) costs one fold per CORPUS row;
    per-pair (False) costs one fold per CANDIDATE row. Candidates ~
    |corpus| x |queries| / 2^bits, so stage iff the expected queries
    per bucket >= 1 — True for batch ANN (the scale shape), False for
    a handful of ad-hoc queries against a large corpus. Scores are
    bit-identical either way (same fold expression).
    """
    planes = _planes(dim, bits, seed)
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cvec"),
        _sign_bits(F.col(vec_col), planes).alias("bucket"),
    )
    if stage_corpus_norm:
        c = c.withColumn("__cn", norm(F.col("cvec")))
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("qvec"),
            _sign_bits(F.col(vec_col), planes).alias("bucket"),
        ).withColumn("__qn", norm(F.col("qvec")))
    )
    cnorm = F.col("__cn") if stage_corpus_norm else norm(F.col("cvec"))
    scored = (
        c.join(q, "bucket")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                dot(F.col("qvec"), F.col("cvec")) / (F.col("__qn") * cnorm), 4
            ).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.col("rank").cast("long").alias("rank"), "score")
    )


def assign_ivf_buckets(
    df: DataFrame,
    vec_col: str,
    centroids: DataFrame,
    out_col: str = "ivf_bucket",
    nprobe: int = 1,
) -> DataFrame:
    """Assign each row to its ``nprobe`` nearest centroids (one output
    row per probe).

    ``centroids`` is a SMALL DataFrame ``(cid, cvec)`` — NOT plan
    literals: at a realistic 4k-65k centroids a literal expansion
    explodes the plan. The frame is PACKED into one array-of-structs
    row (a tiny agg job) and broadcast-cross-joined, so the per-row
    nearest-centroid ranking is a narrow array expression: NO shuffle
    of the corpus at all (a groupBy/min_by reduction was measured +40%
    on the IVF near-dup query — it re-shuffles every embedding), and
    the broadcast is one row of k x dim floats (~16 MB at 65k x 64).

    Ranking key is ``(-dot/norm, cid)`` — deterministic tie-break, and
    the exact sort key the DuckDB oracle twin replicates."""
    packed = centroids.agg(
        F.collect_list(F.struct(F.col("cid"), F.col("cvec"))).alias("__cents")
    )
    vnorm = norm(F.col(vec_col))
    joined = df.crossJoin(F.broadcast(packed)).withColumn("__vnorm", vnorm)
    scored = F.transform(
        F.col("__cents"),
        lambda c: F.struct(
            (-dot(F.col(vec_col), c["cvec"]) / F.col("__vnorm")).alias("negs"),
            c["cid"].alias("cid"),
        ),
    )
    ranked = F.slice(F.array_sort(scored), 1, nprobe)
    return (
        joined.withColumn(out_col, F.explode(F.transform(ranked, lambda s: s["cid"])))
        .drop("__cents", "__vnorm")
    )


def ivf_centroids(
    corpus: DataFrame, id_col: str, vec_col: str, n_centroids: int = 16
) -> DataFrame:
    """Deterministic seed centroids as a small ``(cid, cvec)``
    DataFrame: the n lowest-id vectors (a cheap, reproducible stand-in
    for k-means training — see :func:`train_ivf_centroids` for the real
    trainer). Stays distributed: no driver collect; the consumer
    broadcasts it."""
    return (
        corpus.select(F.col(id_col).alias("cid"), F.col(vec_col).alias("cvec"))
        .orderBy("cid")
        .limit(n_centroids)
    )


def train_ivf_centroids(
    corpus: DataFrame,
    vec_col: str = "embedding",
    n_centroids: int = 256,
    seed: int = 42,
    max_iter: int = 20,
) -> DataFrame:
    """Train real IVF centroids with distributed k-means
    (``pyspark.ml.clustering.KMeans``) and return them in the same
    ``(cid, cvec)`` shape :func:`assign_ivf_buckets` consumes. The
    model's centers are k x dim — driver-small by construction."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    vecs = corpus.select(
        array_to_vector(F.col(vec_col).cast("array<double>")).alias("features")
    )
    model = KMeans(k=n_centroids, seed=seed, maxIter=max_iter).fit(vecs)
    return corpus.sparkSession.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())],
        "cid long, cvec array<float>",
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 4,
) -> DataFrame:
    """IVF approximate top-k: corpus in 1 list each, queries probe
    ``nprobe`` lists; equi-join on list id."""
    cents = ivf_centroids(corpus, id_col, vec_col, n_centroids)
    # Norms staged per side below the list-id join (one fold per
    # assigned row, not two per candidate pair) — same fold expression.
    c = assign_ivf_buckets(
        corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cvec")),
        "cvec", cents, nprobe=1,
    ).withColumn("__cn", norm(F.col("cvec")))
    q = F.broadcast(
        assign_ivf_buckets(
            queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")),
            "qvec", cents, nprobe=nprobe,
        ).withColumn("__qn", norm(F.col("qvec")))
    )
    scored = (
        c.join(q, "ivf_bucket")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                dot(F.col("qvec"), F.col("cvec")) / (F.col("__qn") * F.col("__cn")), 4
            ).alias("score"),
        )
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.col("rank").cast("long").alias("rank"), "score")
    )
