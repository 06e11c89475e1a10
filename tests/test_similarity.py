"""Similarity-search semantics: brute-force oracle in numpy, ANN
variants checked for top-1 agreement / recall on clustered vectors."""

from __future__ import annotations

import numpy as np
import pytest

from cartography_spark.operators.similarity import (
    brute_force_topk,
    hyperplane_lsh_topk,
    ivf_topk,
)

DIM = 16
N = 80


def _vectors():
    rng = np.random.default_rng(7)
    centers = rng.standard_normal((4, DIM)) * 3
    rows = []
    for i in range(N):
        v = centers[i % 4] + rng.standard_normal(DIM) * 0.3
        rows.append((i, [float(x) for x in v]))
    return rows


@pytest.fixture(scope="module")
def corpus(spark):
    return spark.createDataFrame(_vectors(), "vec_id long, embedding array<float>").cache()


def _np_topk(rows, qid, k):
    M = np.array([r[1] for r in rows])
    ids = np.array([r[0] for r in rows])
    q = M[list(ids).index(qid)]
    sims = (M @ q) / (np.linalg.norm(M, axis=1) * np.linalg.norm(q))
    order = sorted(
        [(float(-round(s, 4)), int(i)) for s, i in zip(sims, ids) if i != qid]
    )
    return [i for _, i in order[:k]]


def test_brute_force_matches_numpy(spark, corpus):
    rows = _vectors()
    queries = corpus.where("vec_id < 3")
    got = brute_force_topk(corpus, queries, k=5).collect()
    by_q = {}
    for r in sorted(got, key=lambda r: (r["query_id"], r["rank"])):
        by_q.setdefault(r["query_id"], []).append(r["neighbor_id"])
    for q in (0, 1, 2):
        assert by_q[q] == _np_topk(rows, q, 5)


def test_lsh_topk_subset_of_bucket_and_ranked(spark, corpus):
    queries = corpus.where("vec_id < 3")
    got = hyperplane_lsh_topk(corpus, queries, k=5, bits=4, dim=DIM)
    rows = got.collect()
    assert len(rows) > 0
    for r in rows:
        assert r["neighbor_id"] != r["query_id"]
    # clustered data + 4 bits: the true top-1 (same cluster) should be
    # found for most queries
    rows_all = _vectors()
    hits = 0
    by_q = {}
    for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
        by_q.setdefault(r["query_id"], []).append(r["neighbor_id"])
    for q, neigh in by_q.items():
        if neigh and neigh[0] == _np_topk(rows_all, q, 1)[0]:
            hits += 1
    assert hits >= max(1, len(by_q) - 1)


def test_ivf_topk_recall(spark, corpus):
    queries = corpus.where("vec_id < 4")
    got = ivf_topk(corpus, queries, k=3, n_centroids=8, nprobe=4)
    rows_all = _vectors()
    by_q = {}
    for r in sorted(got.collect(), key=lambda r: (r["query_id"], r["rank"])):
        by_q.setdefault(r["query_id"], []).append(r["neighbor_id"])
    assert set(by_q) == {0, 1, 2, 3}
    # top-1 recall with 4/8 lists probed on well-separated clusters
    hits = sum(1 for q, n in by_q.items() if n[0] == _np_topk(rows_all, q, 1)[0])
    assert hits >= 3


def test_ivf_assignment_is_broadcast_join_not_literals(spark):
    """Round-3 done-criterion: centroid assignment must be a
    broadcast-join against a (cid, cvec) frame, not plan-literal
    expansion — a 1000-centroid assignment completes with a sane plan
    (the literal form would embed 1000 x DIM doubles in the plan) and
    assigns every row to exactly one list."""
    import numpy as np

    from cartography_spark.operators.similarity import assign_ivf_buckets, ivf_centroids

    rng = np.random.default_rng(11)
    big = spark.createDataFrame(
        [(i, [float(x) for x in rng.standard_normal(DIM)]) for i in range(2000)],
        "vec_id long, embedding array<float>",
    )
    cents = ivf_centroids(big, "vec_id", "embedding", n_centroids=1000)
    assigned = assign_ivf_buckets(big, "embedding", cents, nprobe=1)
    plan = assigned._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan
    assert len(plan) < 200_000  # literal expansion would be megabytes
    assert assigned.count() == 2000
    assert assigned.select("vec_id").distinct().count() == 2000


def test_train_ivf_centroids_shape(spark, corpus):
    """The k-means trainer returns the same (cid, cvec) contract the
    assigner consumes and its buckets cover the corpus."""
    pytest.importorskip("pyspark.ml")
    from cartography_spark.operators.similarity import assign_ivf_buckets, train_ivf_centroids

    cents = train_ivf_centroids(corpus, "embedding", n_centroids=4, seed=7, max_iter=5)
    rows = cents.collect()
    assert len(rows) == 4 and len(rows[0]["cvec"]) == DIM
    assigned = assign_ivf_buckets(corpus, "embedding", cents, nprobe=1)
    assert assigned.count() == N
    assert assigned.select("ivf_bucket").distinct().count() >= 2


def test_pair_dot_arrow_bit_identical_to_expression_fold(spark):
    """pair_dot_arrow must equal dot()'s interpreted fold EXACTLY
    (not approximately): same elementwise double cast, same sequential
    accumulation order. Also pins NULL/length-mismatch -> NULL and
    empty-vs-empty -> 0.0, matching zip_with+fold propagation."""
    from pyspark.sql import functions as F

    from cartography_spark.operators.similarity import dot, pair_dot_arrow

    rng = np.random.default_rng(11)
    rows = []
    for i in range(300):
        a = rng.standard_normal(DIM).astype(np.float32)
        b = rng.standard_normal(DIM).astype(np.float32)
        rows.append((i, a.tolist(), b.tolist()))
    rows.append((300, None, [1.0] * DIM))      # NULL side
    rows.append((301, [1.0, 2.0], [1.0] * DIM))  # length mismatch
    rows.append((302, [], []))                  # empty vs empty
    df = spark.createDataFrame(rows, "id long, a array<float>, b array<float>")
    expr = {r["id"]: r["d"] for r in df.select("id", dot(F.col("a"), F.col("b")).alias("d")).collect()}
    arrow = {r["id"]: r["__dot"] for r in pair_dot_arrow(df, "a", "b").collect()}
    assert set(expr) == set(arrow)
    for i in expr:
        assert expr[i] == arrow[i], (i, repr(expr[i]), repr(arrow[i]))  # exact, not approx
    assert arrow[300] is None and arrow[301] is None and arrow[302] == 0.0


def test_norm_folds_stay_below_the_pair_join(spark, corpus):
    """Vector norms are staged per SIDE of the candidate join (one
    interpreted fold per row), never recomputed per candidate pair.
    Pin: every norm fold (aggregate(transform(x*x))) in the optimized
    plan sits BELOW the first join node — if CollapseProject ever
    inlines the staged column into the post-join score projection,
    a fold line would appear above the join and this fails."""
    from pyspark.sql import functions as F

    queries = corpus.where(F.col("vec_id") < 8)
    for name, df, expect in (
        ("brute", brute_force_topk(corpus, queries, k=5), 2),
        ("lsh", hyperplane_lsh_topk(corpus, queries, k=5, bits=4, dim=DIM, seed=42), 2),
        # ivf: 2 staged score norms + 2 assign_ivf_buckets row norms
        ("ivf", ivf_topk(corpus, queries, k=5, n_centroids=8, nprobe=2), 4),
    ):
        lines = df._jdf.queryExecution().optimizedPlan().toString().splitlines()
        fold_idx = [i for i, l in enumerate(lines) if "aggregate(transform(" in l]
        join_idx = [i for i, l in enumerate(lines) if "Join" in l]
        assert len(fold_idx) == expect, (name, len(fold_idx))
        # tree printing puts children after their parent: below-join
        # folds have larger line indices than the first join node
        assert join_idx and all(i > join_idx[0] for i in fold_idx), (name, fold_idx, join_idx)


def test_lsh_topk_corpus_norm_knob(spark, corpus):
    """stage_corpus_norm=False moves exactly the corpus norm fold above
    the join (per candidate pair, for few-queries/large-corpus use) and
    returns bit-identical rows to the staged default."""
    from pyspark.sql import functions as F

    queries = corpus.where(F.col("vec_id") < 8)
    staged = hyperplane_lsh_topk(corpus, queries, k=5, bits=4, dim=DIM, seed=42)
    perpair = hyperplane_lsh_topk(
        corpus, queries, k=5, bits=4, dim=DIM, seed=42, stage_corpus_norm=False
    )
    lines = perpair._jdf.queryExecution().optimizedPlan().toString().splitlines()
    fold_idx = [i for i, l in enumerate(lines) if "aggregate(transform(" in l]
    join_idx = [i for i, l in enumerate(lines) if "Join" in l]
    assert len(fold_idx) == 2 and join_idx
    above = [i for i in fold_idx if i < join_idx[0]]
    below = [i for i in fold_idx if i > join_idx[0]]
    assert len(above) == 1 and len(below) == 1  # corpus fold above, query fold below
    assert sorted(map(tuple, staged.collect())) == sorted(map(tuple, perpair.collect()))


def test_random_projection_matches_python_model(spark):
    import math

    from cartography_spark.operators.similarity import (
        projection_signs, random_projection,
    )

    vecs = [(1, [0.5, -1.25, 2.0, 0.0]), (2, [1.0, 1.0, 1.0, 1.0])]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    out = {r["vec_id"]: [r[f"p{j}"] for j in range(3)]
           for r in random_projection(df, out_dim=3, in_dim=4, seed="t").collect()}
    signs = projection_signs(3, 4, seed="t")
    scale = 1.0 / math.sqrt(3)
    import numpy as np

    for vid, v in vecs:
        v32 = [float(np.float32(x)) for x in v]  # storage is float32
        for j in range(3):
            want = sum(x * s for x, s in zip(v32, signs[j])) * scale
            assert out[vid][j] == pytest.approx(want, rel=1e-12)


def test_random_projection_preserves_distances_approximately(spark):
    # JL property smoke: relative pairwise-distance distortion bounded.
    import numpy as np

    from cartography_spark.operators.similarity import random_projection

    rng = np.random.default_rng(5)
    vecs = [(i, [float(x) for x in rng.normal(size=64)]) for i in range(40)]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    rows = random_projection(df, out_dim=16, in_dim=64).collect()
    proj = {r["vec_id"]: np.array([r[f"p{j}"] for j in range(16)]) for r in rows}
    orig = {i: np.array(v, dtype=np.float64) for i, v in vecs}
    ratios = []
    for a in range(0, 40, 7):
        for b in range(a + 1, 40, 5):
            d0 = np.linalg.norm(orig[a] - orig[b])
            # E[||Px||^2] = ||x||^2 under the 1/sqrt(k) scaling, so the
            # ratio needs no rescale.
            d1 = np.linalg.norm(proj[a] - proj[b])
            ratios.append(d1 / d0)
    m = float(np.mean(ratios))
    assert 0.75 < m < 1.25  # unbiased on average
    assert all(0.4 < r < 1.8 for r in ratios)  # no catastrophic distortion


def test_random_projection_rejects_bad_dims(spark):
    from cartography_spark.operators.similarity import random_projection

    df = spark.createDataFrame([(1, [1.0])], "vec_id long, embedding array<float>")
    with pytest.raises(ValueError):
        random_projection(df, out_dim=0, in_dim=1)
