"""Dedup operator semantics on small fixtures, with brute-force oracles
computed in Python (the reference's exact-set-equality test style,
``tests/integration/util.py:11-72``)."""

from __future__ import annotations

import itertools

import pytest
from pyspark.sql import functions as F

from cartography_spark.operators.dedup import (
    char_shingles,
    drop_exact_duplicates,
    embedding_near_dup_lsh,
    embedding_near_dup_pairs,
    exact_dedup_groups,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog", "a"),
    (2, "the quick brown fox jumps over the lazy dog", "a"),   # exact dup of 1
    (3, "the quick brown fox jumped over the lazy dog", "a"),  # near dup of 1
    (4, "completely different content about spark sql engines", "b"),
    (5, "completely different content about spark sql engines!", "b"),  # near dup of 4
    (6, "unrelated text with no overlap whatsoever here", "b"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string, source string")


def _py_jaccard(a: str, b: str, n: int = 3) -> float:
    def sh(s):
        s = s.lower()
        return {s[i : i + n] for i in range(max(len(s) - n + 1, 1))}
    A, B = sh(a), sh(b)
    return len(A & B) / len(A | B)


def test_exact_dedup(docs):
    groups = {r["canonical_id"]: r["group_size"] for r in exact_dedup_groups(docs, "doc_id", "text").collect()}
    assert groups[1] == 2  # doc 2 collapses into 1
    assert sum(groups.values()) == 6
    survivors = {r["doc_id"] for r in drop_exact_duplicates(docs, "doc_id", "text").collect()}
    assert survivors == {1, 3, 4, 5, 6}


@pytest.mark.parametrize("family", ["md5", "arrow"])
def test_minhash_lsh_finds_near_dups(docs, family):
    pairs = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(
            docs, "doc_id", "text", num_hashes=16, bands=8, threshold=0.6, family=family
        ).collect()
    }
    # expected: all pairs with true char-3-gram jaccard >= 0.6
    expected = {
        (a, b)
        for (a, ta, _), (b, tb, _) in itertools.combinations(DOCS, 2)
        if _py_jaccard(ta, tb) >= 0.6
    }
    assert (1, 2) in pairs and (1, 3) in pairs and (4, 5) in pairs
    # LSH must not hallucinate pairs below threshold (verify step) and with
    # 8 bands of 2 rows recall on these high-sim pairs is certain for dups.
    assert pairs <= expected
    assert expected - pairs == set()


def test_lsh_jaccard_matches_bruteforce(docs):
    rows = minhash_lsh_pairs(docs, "doc_id", "text", num_hashes=16, bands=8, threshold=0.6).collect()
    by_pair = {(r["id_a"], r["id_b"]): r["jaccard"] for r in rows}
    for (a, b), j in by_pair.items():
        truth = _py_jaccard(DOCS[a - 1][1], DOCS[b - 1][1])
        assert abs(j - truth) < 1e-3


def test_minhash_arrow_signatures_match_python_model(docs):
    """The arrow engine's signature must equal an independently coded
    pure-Python model of the same family (shingle -> md5-low-64 ->
    min over signed int64 view of a_i*H + b_i mod 2^64)."""
    import hashlib

    from cartography_spark.operators.dedup import (
        _affine_coeffs,
        minhash_signatures_arrow,
    )

    k = 8
    a_co, b_co = _affine_coeffs(k, seed=1)
    got = {
        r["doc_id"]: r["__sig"]
        for r in minhash_signatures_arrow(docs, "doc_id", "text", k).collect()
    }
    M64 = (1 << 64) - 1
    for doc_id, text, _ in DOCS:
        s = text.lower()
        grams = {s[i : i + 3] for i in range(max(len(s) - 2, 1))}
        hs = [int.from_bytes(hashlib.md5(g.encode()).digest()[:8], "big") for g in grams]
        expected = []
        for a, b in zip(a_co, b_co):
            vals = [(a * h + b) & M64 for h in hs]
            signed = [v - (1 << 64) if v >= (1 << 63) else v for v in vals]
            expected.append(str(min(signed)))
        assert got[doc_id] == expected, f"doc {doc_id}"


def test_minhash_arrow_signatures_property(spark):
    """Hypothesis sweep of the arrow signature engine: arbitrary unicode
    text (incl. empty / whitespace / short-of-one-shingle strings) must
    (a) match the pure-Python model of the family and (b) be invariant
    to partitioning (the per-batch md5 memoization is value-transparent)."""
    import hashlib

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from cartography_spark.operators.dedup import (
        _affine_coeffs,
        minhash_signatures_arrow,
    )

    texts = st.lists(
        st.text(
            alphabet=st.characters(blacklist_categories=("Cs",)), max_size=30
        ),
        min_size=1,
        max_size=6,
    )
    M64 = (1 << 64) - 1
    a_co, b_co = _affine_coeffs(4, seed=1)

    def model(text):
        s = text.lower()
        grams = {s[i : i + 3] for i in range(max(len(s) - 2, 1))}
        hs = [int.from_bytes(hashlib.md5(g.encode()).digest()[:8], "big") for g in grams]
        out = []
        for a, b in zip(a_co, b_co):
            vals = [(a * h + b) & M64 for h in hs]
            out.append(str(min(v - (1 << 64) if v >= (1 << 63) else v for v in vals)))
        return out

    @settings(
        max_examples=10,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
    )
    @given(texts=texts)
    def run(texts):
        rows = [(i, t) for i, t in enumerate(texts)]
        df1 = spark.createDataFrame(rows, "doc_id int, text string").coalesce(1)
        df2 = spark.createDataFrame(rows, "doc_id int, text string").repartition(4)
        got1 = {r["doc_id"]: r["__sig"] for r in minhash_signatures_arrow(df1, "doc_id", "text", 4).collect()}
        got2 = {r["doc_id"]: r["__sig"] for r in minhash_signatures_arrow(df2, "doc_id", "text", 4).collect()}
        assert got1 == got2  # partition invariance
        for i, t in rows:
            assert got1[i] == model(t), (i, t)

    run()


def test_minhash_arrow_family_matches_md5_values(docs):
    """The arrow (production) and md5 (oracle) families differ only in
    LSH blocking (exact verify is engine-independent): on the fixture
    corpus both find the same pairs with the same 4dp jaccard values."""
    md5 = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in minhash_lsh_pairs(
            docs, "doc_id", "text", num_hashes=16, bands=8, threshold=0.6, family="md5"
        ).collect()
    }
    ar = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in minhash_lsh_pairs(
            docs, "doc_id", "text", num_hashes=16, bands=8, threshold=0.6, family="arrow"
        ).collect()
    }
    assert md5 == ar and len(ar) > 0


def test_minhash_rejects_deleted_xxhash64_family(docs):
    """Only the md5 and arrow MinHash families exist; any other value
    raises while the plan is built, never silently picks a family."""
    from cartography_spark.operators.dedup import minhash_lsh_join

    with pytest.raises(ValueError, match="MinHash family"):
        minhash_lsh_pairs(docs, "doc_id", "text", family="xxhash64")
    with pytest.raises(ValueError, match="MinHash family"):
        minhash_lsh_join(docs, docs, "doc_id", "text", family="xxhash64")


def test_minhash_arrow_null_text_drops_pairs(spark):
    """NULL text must behave like the JVM path: the doc never verifies
    (NULL jaccard -> filtered), it does not match everything via ''."""
    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps"), (2, "the quick brown fox jumps"), (3, None)],
        "doc_id int, text string",
    )
    rows = minhash_lsh_pairs(
        docs, "doc_id", "text", num_hashes=16, bands=8, threshold=0.5, family="arrow"
    ).collect()
    pairs = {(r["id_a"], r["id_b"]) for r in rows}
    assert pairs == {(1, 2)}


def _py_simhash_arrow2(text: str, n: int = 3) -> int:
    """Independent model of the arrow2 fingerprint: per distinct
    lowercased char n-gram, the md5 digest's first 8 bytes as a
    big-endian uint64; bit set iff at least half the n-grams set it;
    MSB-first, read as a signed 64-bit long."""
    import hashlib

    s = text.lower()
    grams = {s[i : i + n] for i in range(max(len(s) - n + 1, 1))}
    hs = [int.from_bytes(hashlib.md5(g.encode()).digest()[:8], "big") for g in grams]
    val = 0
    for bit in range(63, -1, -1):
        ones = sum((h >> bit) & 1 for h in hs)
        val = (val << 1) | (1 if ones * 2 >= len(hs) else 0)
    return val - (1 << 64) if val >= (1 << 63) else val


def test_simhash_arrow2_engine_behavior(spark):
    """arrow2 is its own fingerprint family (no cross-engine pin), so
    pin its CONTRACT: identical texts collide at hamming 0, unrelated
    texts stay outside a tight budget, NULL-text docs emit no pairs,
    and its fingerprint matches an independent pure-Python model."""
    from cartography_spark.operators.dedup import (
        simhash_fingerprints_arrow2,
        simhash_pairs,
    )

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy dog"),
            (3, "entirely different subject matter with other words"),
            (4, None),
        ],
        "doc_id int, text string",
    )
    rows = simhash_pairs(docs, "doc_id", "text", max_hamming=3, engine="arrow2").collect()
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in rows}
    assert got == {(1, 2): 0}

    fps = {r["doc_id"]: r["fp"] for r in simhash_fingerprints_arrow2(docs, "doc_id", "text").collect()}
    assert fps[4] is None
    expected = _py_simhash_arrow2("the quick brown fox jumps over the lazy dog")
    assert fps[1] == expected and fps[2] == expected
    # the deleted engines are rejected, not silently mapped to arrow2
    for engine in ("expr", "arrow"):
        with pytest.raises(ValueError, match="SimHash engine"):
            simhash_pairs(docs, "doc_id", "text", engine=engine)


def test_ngram_jaccard_blocked(docs):
    pairs = {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(docs, "doc_id", "text", "source", threshold=0.6).collect()
    }
    # blocking by source: (1,2),(1,3),(2,3) in block a; (4,5) in block b
    assert pairs == {(1, 2), (1, 3), (2, 3), (4, 5)}


def test_simhash_pairs(docs):
    budget = 12
    # oracle: pairwise hamming of the fingerprints of the independent model
    fps = {doc_id: _py_simhash_arrow2(text) for doc_id, text, _ in DOCS}
    hamming = {
        (a, b): bin((fps[a] ^ fps[b]) & ((1 << 64) - 1)).count("1")
        for a, b in itertools.combinations(sorted(fps), 2)
    }
    expected = {p: h for p, h in hamming.items() if h <= budget}
    rows = simhash_pairs(docs, "doc_id", "text", max_hamming=budget).collect()
    pairs = {(r["id_a"], r["id_b"]): r["hamming"] for r in rows}
    # pigeonhole blocking guarantees every within-budget pair is found
    assert pairs == expected
    assert pairs[(1, 2)] == 0  # identical text -> identical fingerprint
    # the unrelated doc 6 lies outside the budget of both clusters
    assert hamming[(1, 6)] > budget and hamming[(4, 6)] > budget
    assert (1, 6) not in pairs and (4, 6) not in pairs


def test_char_shingles_deterministic(spark):
    df = spark.createDataFrame([("Hello",)], "s string")
    got = df.select(char_shingles("s", 3).alias("sh")).collect()[0]["sh"]
    assert sorted(got) == ["ell", "hel", "llo"]


def test_embedding_near_dup(spark):
    vecs = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.999, 0.01, 0.0]),   # near dup of 1
        (3, [0.0, 1.0, 0.0]),
        (4, [0.0, 0.99, 0.1]),     # near dup of 3
    ]
    df = spark.createDataFrame(vecs, "vid long, vec array<double>")
    pairs = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_dup_pairs(df, "vid", "vec", threshold=0.98).collect()
    }
    assert pairs == {(1, 2), (3, 4)}


def test_embedding_near_dup_lsh_blocked_no_cartesian(spark):
    """The LSH-blocked near-dup must (a) never plan a cross product —
    the 100 TB criterion — (b) emit a subset of the exact all-pairs
    result with every emitted cosine correct, and (c) catch identical
    vectors with certainty (they share every bucket)."""
    import random

    rng = random.Random(5)
    vecs = [(i, [rng.gauss(0, 1) for _ in range(64)]) for i in range(80)]
    vecs += [(100 + i, list(vecs[i][1])) for i in range(5)]  # exact dups
    df = spark.createDataFrame(vecs, "vid long, vec array<double>")

    blocked = embedding_near_dup_lsh(
        df, "vid", "vec", threshold=0.45, bits=4, sets=12, dim=64, seed=7
    )
    plan = blocked._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan

    exact = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in embedding_near_dup_pairs(df, "vid", "vec", threshold=0.45).collect()
    }
    got = {(r["id_a"], r["id_b"]): r["cosine"] for r in blocked.collect()}
    assert set(got) <= set(exact)  # no false positives past the verify
    for k, v in got.items():
        assert v == exact[k]
    # identical vectors share every bucket -> recall 1.0 on exact dups
    for i in range(5):
        assert (i, 100 + i) in got


def test_minhash_lsh_join_caps_corpus_buckets(spark):
    """The bucket cap applies to the CORPUS side: a hot band key with
    more than max_bucket corpus rows is dropped, so one pathological
    cluster cannot quadratically blow up the candidate set; distinct
    texts elsewhere still pair."""
    from cartography_spark.operators.dedup import minhash_lsh_join

    hot = [(i, "the exact same hot text cluster") for i in range(30)]
    cold = [(100, "a unique cold document xyz"), (101, "a unique cold document xyzq")]
    corpus = spark.createDataFrame(hot + cold, "doc_id long, text string")
    new = spark.createDataFrame(
        [(200, "the exact same hot text cluster"), (201, "a unique cold document xyz2")],
        "doc_id long, text string",
    )
    capped = minhash_lsh_join(
        new, corpus, "doc_id", "text", threshold=0.6, max_bucket=10
    )
    got = {(r["id_l"], r["id_r"]) for r in capped.collect()}
    # hot-cluster band buckets (30 rows) exceed the cap -> no hot pairs
    assert all(r not in {i for i in range(30)} for (_, r) in got)
    # the cold near-dups still pair
    assert (201, 100) in got or (201, 101) in got


@pytest.mark.parametrize("family", ["md5", "arrow"])
def test_minhash_lsh_join_excludes_same_id(spark, family):
    """A doc present in both frames must not pair with itself."""
    from cartography_spark.operators.dedup import minhash_lsh_join

    docs = spark.createDataFrame(
        [(1, "same text here okay"), (2, "same text here okay")],
        "doc_id long, text string",
    )
    got = {(r["id_l"], r["id_r"]) for r in
           minhash_lsh_join(docs, docs, "doc_id", "text", threshold=0.6, family=family).collect()}
    assert (1, 1) not in got and (2, 2) not in got
    assert (1, 2) in got and (2, 1) in got


# ---------------- bottom-k containment ----------------


def _py_bottomk(text: str, n: int = 4, k: int = 16) -> list[str]:
    import hashlib

    toks = text.split(" ")
    length = max(len(toks) - n + 1, 1)
    grams = {" ".join(toks[i : i + n]) for i in range(length)}
    return sorted(hashlib.md5(g.encode()).hexdigest() for g in grams)[:k]


def test_containment_catches_asymmetric_quote_minhash_misses(spark):
    """The motivating shape: a 30-word doc quoted wholesale inside a
    200-word doc. True containment is 1.0 and the bottom-k estimator is
    EXACT there (every sketch hash of the subset that survives into the
    union's bottom-k is provably in the superset's sketch too), while
    Jaccard ~ 30/200, so symmetric MinHash-LSH at the same bar misses
    the pair. Also: the candidate join must never plan a cross
    product."""
    from cartography_spark.operators.dedup import containment_pairs

    long_doc = " ".join(f"w{i}" for i in range(200))
    short_doc = " ".join(f"w{i}" for i in range(50, 80))
    other = " ".join(f"u{i}" for i in range(60))
    df = spark.createDataFrame(
        [(1, short_doc), (2, long_doc), (3, other)], "doc_id long, text string"
    )
    got = containment_pairs(
        df, "doc_id", "text", shingle_n=4, k=16, threshold=0.9, shingle_mode="word"
    )
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    rows = {(r["id_a"], r["id_b"]): r for r in got.collect()}
    assert set(rows) == {(1, 2)}
    r = rows[(1, 2)]
    assert r["containment_ab"] == 1.0          # short fully inside long
    assert r["containment_ba"] < 0.5           # long NOT inside short
    assert r["jaccard_est"] < 0.5              # symmetric view small

    from cartography_spark.operators.dedup import minhash_lsh_pairs

    sym = minhash_lsh_pairs(df, "doc_id", "text", threshold=0.9, family="md5")
    assert (1, 2) not in {(r["id_a"], r["id_b"]) for r in sym.collect()}


def test_containment_pairs_match_python_sketch_model(spark):
    """Every emitted pair's three estimates equal a pure-Python
    bottom-k model (same md5 sketches, same K = bottom-k of the sketch
    union), and the emitted pair set is exactly the model's thresholded
    set over candidate pairs sharing a sketch hash."""
    from cartography_spark.operators.dedup import containment_pairs

    base = [f"t{i}" for i in range(40)]
    docs = [
        (1, " ".join(base)),                      # full
        (2, " ".join(base[:20])),                 # prefix half
        (3, " ".join(base[10:30])),               # middle slice
        (4, " ".join(f"z{i}" for i in range(25))),  # unrelated
        (5, " ".join(base[::-1])),                # same words, reversed order
    ]
    k, n, thr = 8, 3, 0.4
    sk = {i: _py_bottomk(t, n, k) for i, t in docs}

    def est(a, b):
        ku = sorted(set(sk[a]) | set(sk[b]))[:k]
        ka = [x for x in ku if x in sk[a]]
        kb = [x for x in ku if x in sk[b]]
        nboth = len([x for x in ka if x in sk[b]])
        c_ab = round(nboth / len(ka), 4) if ka else 0.0
        c_ba = round(nboth / len(kb), 4) if kb else 0.0
        return c_ab, c_ba, round(nboth / len(ku), 4)

    expect = {}
    for a, _ in docs:
        for b, _ in docs:
            if a < b and set(sk[a]) & set(sk[b]):
                c_ab, c_ba, j = est(a, b)
                if max(c_ab, c_ba) >= thr:
                    expect[(a, b)] = (c_ab, c_ba, j)

    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r["id_a"], r["id_b"]): (
            r["containment_ab"], r["containment_ba"], r["jaccard_est"]
        )
        for r in containment_pairs(
            df, "doc_id", "text", shingle_n=n, k=k, threshold=thr,
            shingle_mode="word",
        ).collect()
    }
    assert got == expect
    assert expect, "model produced no pairs - fixture too weak"


def test_containment_xxhash64_family_agrees_on_true_containment(spark):
    """The production hash family must find the same true-containment
    pairs as the oracle family on the quote fixture (the 1.0 estimate
    is family-invariant: every subset sketch hash surviving into the
    union bottom-k is provably in the superset sketch for ANY hash
    function), and A/B at corpus width is measured in bench."""
    from cartography_spark.operators.dedup import containment_pairs

    long_doc = " ".join(f"w{i}" for i in range(200))
    short_doc = " ".join(f"w{i}" for i in range(50, 80))
    df = spark.createDataFrame(
        [(1, short_doc), (2, long_doc), (3, " ".join(f"u{i}" for i in range(60)))],
        "doc_id long, text string",
    )
    for fam in ("md5", "xxhash64"):
        rows = {
            (r["id_a"], r["id_b"]): r["containment_ab"]
            for r in containment_pairs(
                df, "doc_id", "text", shingle_n=4, k=16, threshold=0.9,
                shingle_mode="word", family=fam,
            ).collect()
        }
        assert rows == {(1, 2): 1.0}, fam


# ----------------------------------------------------- repeated n-grams

def test_ngram_spans_positions_hand_computed(spark):
    from cartography_spark.operators.dedup import ngram_spans

    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "x y"), (3, "a b c")],
        "doc_id long, text string",
    )
    got = sorted(
        (r["id"], r["pos"], r["gram"])
        for r in ngram_spans(df, "doc_id", "text", n=3).collect()
    )
    # doc 2 is shorter than n: contributes nothing.
    assert got == [
        (1, 1, "a b c"), (1, 2, "b c d"), (3, 1, "a b c"),
    ]


def test_repeated_ngram_spans_counts(spark):
    from cartography_spark.operators.dedup import repeated_ngram_spans

    df = spark.createDataFrame(
        [
            (1, "quick brown fox jumps high"),
            (2, "the quick brown fox jumps again and quick brown fox jumps"),
            (3, "quick brown fox sleeps"),
            (4, "totally unrelated text here"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["gram"]: (r["n_docs"], r["n_occurrences"])
        for r in repeated_ngram_spans(df, "doc_id", "text", n=4, min_docs=2).collect()
    }
    # "quick brown fox jumps" appears in docs 1 and 2 (twice in 2).
    assert got == {"quick brown fox jumps": (2, 3)}
    # a within-doc repeat alone must NOT qualify (distinct docs < 2).
    df2 = spark.createDataFrame(
        [(1, "a b c d a b c d"), (2, "zz")], "doc_id long, text string"
    )
    assert (
        repeated_ngram_spans(df2, "doc_id", "text", n=4, min_docs=2).count() == 0
    )


def test_repeated_ngram_spans_validates(spark):
    import pytest as _pt

    from cartography_spark.operators.dedup import ngram_spans, repeated_ngram_spans

    df = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    with _pt.raises(ValueError, match="n must be"):
        ngram_spans(df, "doc_id", "text", n=0)
    with _pt.raises(ValueError, match="min_docs"):
        repeated_ngram_spans(df, "doc_id", "text", min_docs=1)
