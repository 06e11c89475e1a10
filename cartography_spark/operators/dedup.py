"""Deduplication operators for training-data pipelines.

Exact (hash-groupBy), MinHash+LSH (shingle → minhash → band →
bucket-join), SimHash (Hamming-blocked), n-gram Jaccard, and
embedding-cosine near-dup — each returning either surviving rows or
confirmed duplicate pairs.

One oracle-parity kernel and one production kernel per job:
- MinHash-LSH: ``family="md5"`` — md5 hex strings, byte-identical in
  DuckDB, used wherever the driver's SQL oracle must reproduce the
  result; ``family="arrow"`` (the default) — the production path:
  signature fold AND exact Jaccard verify vectorized over Arrow batches
  (:func:`minhash_signatures_arrow`, :func:`_jaccard_verify_arrow`);
- SimHash: :func:`simhash_pairs` (64-bit fingerprints folded in one
  Arrow pass) and its oracle twin :func:`simhash_pairs_md5` (32-bit md5
  family);
- bottom-k containment: ``family="md5"`` (oracle) or ``"xxhash64"``
  (production).

Reference analog: A2 dedup-by-key (``cartography/intel/github/
users.py:132-185``) and the fuzzy matcher J4 (``cartography/graph/
querybuilder.py:139-141``) — LSH is the scale replacement for the
quadratic CONTAINS theta-join.

Scale notes:
- every pair-generating join is an equi-join on a band/bucket key —
  shuffle-partitionable, AQE-splittable; no cross product anywhere;
- band-key skew (a hot shingle pattern) is bounded by ``max_bucket``:
  buckets larger than it are dropped (standard LSH practice — a
  bucket with B rows yields B² candidates; the same pairs are found
  by their other bands w.h.p.);
- candidate pairs are deduped on (id_a, id_b) BEFORE the Jaccard
  verify so each pair is verified once.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.window import Window


# ---------------- shingling ----------------


def char_shingles(col: Column | str, n: int = 3) -> Column:
    """Distinct character n-grams of the lowercased string (JVM-only;
    oracle-portable: DuckDB list comprehension + substr)."""
    s = F.lower(F.col(col) if isinstance(col, str) else col)
    length = F.greatest(F.length(s) - F.lit(n - 1), F.lit(1))
    return F.array_distinct(
        F.transform(F.sequence(F.lit(1), length), lambda i: F.substring(s, i, F.lit(n)))
    )


def word_token_set(col: Column | str) -> Column:
    return F.array_distinct(F.split(F.col(col) if isinstance(col, str) else col, " "))


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard of two distinct-element arrays."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    return inter / (F.size(a) + F.size(b) - inter)


# ---------------- exact dedup ----------------


def exact_dedup_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Hash-groupBy exact dedup: one row per distinct text with the
    canonical (min) id and the group size. Partial aggregation makes
    this a single map-side-combined shuffle on the 32-hex digest, never
    on the full text bytes."""
    return (
        df.select(F.md5(F.col(text_col)).alias("text_hash"), F.col(id_col).alias("doc_id"))
        .groupBy("text_hash")
        .agg(F.min("doc_id").alias("canonical_id"), F.count("*").alias("group_size"))
    )


def drop_exact_duplicates(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Survivors of exact dedup (min id per text hash wins)."""
    w = Window.partitionBy(F.md5(F.col(text_col))).orderBy(F.col(id_col))
    return df.withColumn("__rn", F.row_number().over(w)).where(F.col("__rn") == 1).drop("__rn")


# ---------------- MinHash + LSH ----------------


def minhash_signature(shingles: Column, num_hashes: int) -> Column:
    """minhash_i = min over shingles of md5("i:shingle") — the md5
    family, as hex strings a DuckDB oracle reproduces byte for byte.

    IMPORTANT: pass ``shingles`` as a *materialized column reference*
    (stage the shingle array in its own projection first). Higher-order
    lambdas are interpreted (no codegen CSE), so an inline expression
    here would be recomputed ``num_hashes`` times per row."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(num_hashes - 1)),
        lambda i: F.array_min(
            F.transform(shingles, lambda s: F.md5(F.concat(i.cast("string"), F.lit(":"), s)))
        ),
    )


_M64 = (1 << 64) - 1


def _splitmix64(x: int) -> int:
    """Public splitmix64 mixer (Steele et al.) — pure-int, used to derive
    the arrow family's affine coefficients deterministically from a seed."""
    x = (x + 0x9E3779B97F4A7C15) & _M64
    z = ((x ^ (x >> 30)) * 0xBF58476D1CE4E5B9) & _M64
    z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & _M64
    return (z ^ (z >> 31)) & _M64


def _affine_coeffs(num_hashes: int, seed: int) -> tuple[list[int], list[int]]:
    """num_hashes (a_i odd, b_i) multiply-shift pairs from splitmix64."""
    a = [(_splitmix64((seed << 32) + 2 * i) | 1) for i in range(num_hashes)]
    b = [_splitmix64((seed << 32) + 2 * i + 1) for i in range(num_hashes)]
    return a, b


def minhash_signatures_arrow(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int,
    shingle_n: int = 3,
    seed: int = 1,
) -> DataFrame:
    """(doc_id, __sig array<string>) via an Arrow-vectorized signature —
    the throughput engine for the shingle→minhash stage.

    The JVM path (``minhash_signature``) evaluates ``num_hashes``
    interpreted lambdas over an interpreted shingling HOF — measured
    ~350k shingle-ops/s/core at sf0.1, the dominant cost of both LSH
    dedup and entity-linking blocking. Here the whole stage runs over
    Arrow batches: Python slicing builds the distinct n-gram set, the
    base hash (md5 low-64, deterministic) is MEMOIZED per batch (3-gram
    space is tiny, so distinct shingles ≪ total), and the per-seed
    minima are one numpy matmul-shaped pass per doc over the affine
    family h_i(s) = int64(a_i·H(s) + b_i mod 2^64), a_i odd
    (multiply-shift hashing — public construction). Signed int64
    comparison keeps min semantics identical to a JVM long twin.

    This is a DIFFERENT hash family from ``md5`` (own
    ``family="arrow"``): LSH candidate sets differ w.h.p.-negligibly,
    and the downstream exact-Jaccard verify is engine-independent, so
    pair outputs agree at the same recall bars. Not used by
    oracle-gated catalog queries (those pin the md5 family); this is
    the bench/production path. Signature values are emitted as decimal
    strings to match the ``_band_hashes`` contract."""
    import hashlib

    import numpy as np
    import pandas as pd

    a_co, b_co = _affine_coeffs(num_hashes, seed)

    staged = df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("__text"))
    id_type = staged.schema["doc_id"].dataType.simpleString()

    def sign(batches):
        A = np.array(a_co, dtype=np.uint64)
        B = np.array(b_co, dtype=np.uint64)
        for pdf in batches:
            memo: dict[str, int] = {}
            sigs = []
            for text in pdf["__text"]:
                s = (text or "").lower()
                n_pos = max(len(s) - (shingle_n - 1), 1)
                grams = {s[i : i + shingle_n] for i in range(n_pos)}
                hs = np.empty(len(grams), dtype=np.uint64)
                for j, g in enumerate(grams):
                    h = memo.get(g)
                    if h is None:
                        h = int.from_bytes(
                            hashlib.md5(g.encode("utf-8")).digest()[:8], "big"
                        )
                        memo[g] = h
                    hs[j] = h
                # (n_grams, num_hashes) affine values; uint64 arithmetic
                # wraps mod 2^64 (the family's modulus), signed view for
                # JVM-long-identical min semantics.
                vals = (hs[:, None] * A[None, :] + B[None, :]).view(np.int64)
                sigs.append([str(v) for v in vals.min(axis=0)])
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "__sig": sigs})

    return staged.mapInPandas(sign, f"doc_id {id_type}, __sig array<string>")


def _jaccard_verify_arrow(
    pairs: DataFrame, ta: str, tb: str, shingle_n: int, threshold: float
) -> DataFrame:
    """Exact n-gram Jaccard over candidate pairs carrying raw TEXT
    columns ``ta``/``tb`` — the arrow family's verify stage.

    The JVM verify re-attaches materialized shingle ARRAYS (~100
    bytes/shingle as JVM strings — the dominant remaining cost once
    signatures are vectorized, and a 3x-text-sized shuffle payload).
    Here the pair join carries the text itself and the shingle sets are
    built per batch with MEMOIZATION keyed on the text (a doc appears
    in many candidate pairs; its set is built once per batch). Python
    set intersection over ~300-element sets is ~5µs/pair — far below
    one interpreted array_intersect. NULL text ⇒ NULL jaccard, matching
    the JVM path (the threshold filter then drops the pair). Rounding
    and thresholding stay JVM-side so HALF_UP semantics match the md5
    family exactly."""
    import pandas as pd

    out_cols = [c for c in pairs.columns if c not in (ta, tb)]
    out_schema = ", ".join(
        f"{c} {pairs.schema[c].dataType.simpleString()}" for c in out_cols
    ) + ", jaccard double"

    def verify(batches):
        for pdf in batches:
            memo: dict[str, frozenset] = {}

            def grams(text):
                g = memo.get(text)
                if g is None:
                    s = text.lower()
                    n_pos = max(len(s) - (shingle_n - 1), 1)
                    g = frozenset(s[i : i + shingle_n] for i in range(n_pos))
                    memo[text] = g
                return g

            jac = []
            for a, b in zip(pdf[ta], pdf[tb]):
                if a is None or b is None:
                    jac.append(None)
                    continue
                ga, gb = grams(a), grams(b)
                inter = len(ga & gb)
                jac.append(inter / (len(ga) + len(gb) - inter))
            out = pdf[out_cols].copy()
            out["jaccard"] = pd.Series(jac, dtype="float64")
            yield out

    return (
        pairs.mapInPandas(verify, out_schema)
        .withColumn("jaccard", F.round(F.col("jaccard"), 4))
        .where(F.col("jaccard") >= threshold)
    )


def _band_hashes(sig: Column, bands: int, rows_per_band: int, family: str) -> Column:
    """Array of per-band bucket keys (band index encoded in the key).
    ``sig`` must be a materialized array<string> column reference."""
    def band_key(b: int) -> Column:
        parts = [sig[b * rows_per_band + r] for r in range(rows_per_band)]
        if family == "md5":
            return F.md5(F.concat_ws("|", F.lit(str(b)), *parts))
        return F.concat_ws("|", F.lit(str(b)), *parts)
    return F.array(*[band_key(b) for b in range(bands)])


def _minhash_bands(
    df: DataFrame,
    id_col: str,
    text_col: str,
    out_id: str,
    shingle_n: int,
    num_hashes: int,
    bands: int,
    family: str,
) -> DataFrame:
    """(out_id, band_key): one row per LSH band of each doc's MinHash
    signature in ``family`` — ``"arrow"`` (production) or ``"md5"``
    (oracle parity)."""
    if num_hashes % bands:
        raise ValueError("num_hashes must be divisible by bands")
    if family == "arrow":
        # vectorized mapInPandas signature fold (same output contract)
        staged = minhash_signatures_arrow(df, id_col, text_col, num_hashes, shingle_n)
    elif family == "md5":
        # Expression-level let-binding: wrap the shingle array in a
        # 1-element array and bind it via a transform lambda variable, so
        # the signature's num_hashes lambdas read a COMPUTED value, not
        # the char_shingles expression (an outer-lambda body is evaluated
        # per element — an inlined shingle expression would re-tokenize
        # the text 32x per row, measured 10x slower). The __sig attribute
        # is then multiply-referenced by the band keys, which keeps
        # CollapseProject from inlining it in turn.
        staged = df.select(
            F.col(id_col).alias("doc_id"),
            F.element_at(
                F.transform(
                    F.array(char_shingles(text_col, shingle_n)),
                    lambda sh: minhash_signature(sh, num_hashes),
                ),
                1,
            ).alias("__sig"),
        )
    else:
        raise ValueError(f"unknown MinHash family {family!r} (expected 'arrow' or 'md5')")
    return staged.withColumnRenamed("doc_id", out_id).select(
        out_id,
        F.explode(_band_hashes(F.col("__sig"), bands, num_hashes // bands, family)).alias(
            "band_key"
        ),
    )


def _verified_pairs(
    bare: DataFrame,
    left: DataFrame,
    right: DataFrame,
    id_col: str,
    text_col: str,
    id_a: str,
    id_b: str,
    shingle_n: int,
    threshold: float,
    family: str,
) -> DataFrame:
    """Exact n-gram Jaccard verify of deduped BARE id pairs
    ``(id_a from left, id_b from right)``: the payload re-attaches via
    two equi-joins hinted SHUFFLE_HASH (auto-broadcast would ship the
    payload to every task — measured 10x slower even at sf0.1).
    Columns: id_a, id_b, jaccard (4dp, >= threshold)."""

    def side(df: DataFrame, out_id: str, payload: Column) -> DataFrame:
        return df.select(F.col(id_col).alias(out_id), payload).hint("shuffle_hash")

    if family == "arrow":
        # Arrow verify: re-attach raw TEXT (1x-text payload, vs ~3x for
        # materialized shingle arrays) and fold Jaccard per batch with
        # per-doc memoized shingle sets.
        pairs = bare.join(side(left, id_a, F.col(text_col).alias("__t_a")), id_a).join(
            side(right, id_b, F.col(text_col).alias("__t_b")), id_b
        )
        out = _jaccard_verify_arrow(pairs, "__t_a", "__t_b", shingle_n, threshold)
    else:
        pairs = bare.join(
            side(left, id_a, char_shingles(text_col, shingle_n).alias("__sh_a")), id_a
        ).join(side(right, id_b, char_shingles(text_col, shingle_n).alias("__sh_b")), id_b)
        out = pairs.withColumn(
            "jaccard", F.round(jaccard(F.col("__sh_a"), F.col("__sh_b")), 4)
        ).where(F.col("jaccard") >= threshold)
    return out.select(id_a, id_b, "jaccard")


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.7,
    family: str = "arrow",
    max_bucket: int = 1000,
) -> DataFrame:
    """Confirmed near-duplicate pairs (id_a < id_b, jaccard >= threshold).

    shingle → minhash → band → self-equi-join on band key → pair dedup
    → exact-Jaccard verify. Columns: id_a, id_b, jaccard (double,
    rounded 4dp for oracle hashing). ``family``: ``"arrow"``
    (production) or ``"md5"`` (oracle parity).
    """
    base = _minhash_bands(df, id_col, text_col, "doc_id", shingle_n, num_hashes, bands, family)
    # bound bucket blowup from hot band keys (see module docstring)
    sized = base.withColumn("__bs", F.count("*").over(Window.partitionBy("band_key")))
    bounded = sized.where(F.col("__bs") <= max_bucket).drop("__bs")

    # No materialization barrier here, deliberately: the bucket-size
    # window already forces an Exchange on band_key BELOW both self-join
    # sides, and the sides canonicalize equal, so Spark's ReusedExchange
    # runs the staged minhash fold ONCE (A/B-measured: an eager
    # localCheckpoint here is ~1.5x SLOWER — it pays the extra
    # materialization without removing any recompute). simhash_pairs is
    # the opposite case (no exchange below its self-join) and does need
    # the explicit barrier.
    b = bounded.select(F.col("doc_id").alias("doc_id_b"), F.col("band_key"))
    # Dedup BARE id pairs (a pair can collide in several bands), THEN
    # re-attach the payload — the dedup shuffle carries ids only.
    bare = (
        bounded.join(b, "band_key")
        .where(F.col("doc_id") < F.col("doc_id_b"))
        .select(F.col("doc_id").alias("id_a"), F.col("doc_id_b").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    return _verified_pairs(
        bare, df, df, id_col, text_col, "id_a", "id_b", shingle_n, threshold, family
    )


def minhash_lsh_join(
    left: DataFrame,
    right: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.7,
    family: str = "arrow",
    max_bucket: int = 1000,
) -> DataFrame:
    """Cross-frame MinHash-LSH near-duplicate join: pairs (id_l, id_r,
    jaccard) with id_l from ``left`` and id_r from ``right``.

    This is the INCREMENTAL-linking kernel: when ``left`` is a small
    new batch and ``right`` the full corpus, cost is ~ O(|new| x
    bucket), never a corpus self-join — the shape a per-sync linking
    run needs at 100 TB (re-blocking the whole corpus every run is the
    table-rewrite anti-pattern in join form). Same staged-signature /
    bounded-bucket / bare-id-pair-dedup discipline as
    :func:`minhash_lsh_pairs`; the bucket cap applies to the corpus
    side (the hot side at scale). Rows whose ids collide across frames
    (a doc present in both) are excluded.

    PRECONDITION: ``id_col`` must be a NON-NULL UNIQUE key of each
    frame — the id-based re-attach equi-joins drop rows whose id is
    NULL and multiply pairs under duplicate ids. Distinct ids sharing
    identical text all pair (the dedup is on ids, never on text)."""
    lb = _minhash_bands(left, id_col, text_col, "id_l", shingle_n, num_hashes, bands, family)
    rb = _minhash_bands(right, id_col, text_col, "id_r", shingle_n, num_hashes, bands, family)
    sized = rb.withColumn("__bs", F.count("*").over(Window.partitionBy("band_key")))
    rb_bounded = sized.where(F.col("__bs") <= max_bucket).drop("__bs")

    bare = (
        lb.join(rb_bounded, "band_key")
        .where(F.col("id_l") != F.col("id_r"))
        .select("id_l", "id_r")
        .dropDuplicates(["id_l", "id_r"])
    )
    return _verified_pairs(
        bare, left, right, id_col, text_col, "id_l", "id_r", shingle_n, threshold, family
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_col: str,
    shingle_n: int = 3,
    threshold: float = 0.6,
) -> DataFrame:
    """Exact n-gram Jaccard pairs within a blocking key (e.g. same
    source/domain). The block join is an equi-join; use when a natural
    block exists and recall must be exact inside it. Columns: id_a,
    id_b, jaccard."""
    sh = char_shingles(text_col, shingle_n)
    base = df.select(
        F.col(block_col).alias("block"),
        F.col(id_col).alias("doc_id"),
        sh.alias("shingles"),
    )
    b = base.select(
        F.col("block"),
        F.col("doc_id").alias("doc_id_b"),
        F.col("shingles").alias("shingles_b"),
    )
    return (
        base.join(b, "block")
        .where(F.col("doc_id") < F.col("doc_id_b"))
        .withColumn("jaccard", F.round(jaccard(F.col("shingles"), F.col("shingles_b")), 4))
        .where(F.col("jaccard") >= threshold)
        .select(
            F.col("doc_id").alias("id_a"),
            F.col("doc_id_b").alias("id_b"),
            F.col("jaccard"),
        )
    )


# ---------------- bottom-k containment ----------------


def bottomk_sketch(shingles: Column, k: int, family: str = "md5") -> Column:
    """Bottom-k sketch: the ``k`` smallest shingle hashes — Cohen &
    Kaplan's coordinated bottom-k sample. ``family="md5"`` (hex
    strings, lexicographic order identical in Spark and DuckDB, so the
    driver oracle re-derives sketches bit-exactly) or
    ``family="xxhash64"`` (the production path: signed-long order, no
    hex materialization — same house split as the MinHash families).
    The whole sketch is one row-local sort+slice: ZERO shuffle at any
    corpus size."""
    if family == "md5":
        hashed = F.transform(shingles, F.md5)
    elif family == "xxhash64":
        hashed = F.transform(shingles, lambda s: F.xxhash64(s))
    else:
        raise ValueError(f"unknown hash family {family!r}")
    # array_distinct here (on hashes == on shingles, collisions aside)
    # makes the sketch unbiased for callers that pass NON-distinct
    # shingle arrays; a no-op for the pre-distincted callers.
    return F.slice(F.array_sort(F.array_distinct(hashed)), 1, k)


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    k: int = 16,
    threshold: float = 0.7,
    max_bucket: int = 100000,
    shingle_mode: str = "char",
    family: str = "md5",
) -> DataFrame:
    """Asymmetric near-CONTAINMENT pairs via bottom-k sketches.

    MinHash-LSH answers the symmetric question (Jaccard >= t) and
    structurally misses containment: a short page quoted wholesale
    inside a long one has |A∩B|/|A| ≈ 1 while Jaccard ≈ |A|/|B| → 0,
    so no band ever fires. The bottom-k coordinated sample supports the
    asymmetric estimator (Cohen & Kaplan 2007; the problem setting of
    LSH Ensemble, Zhu et al. VLDB 2016): with
    ``K = bottom-k(sketch(A) ∪ sketch(B))``,

        containment(A in B) ≈ |K ∩ skA ∩ skB| / |K ∩ skA|

    (the denominator restricts the coordinated sample to A's elements;
    reference analog: the J4 fuzzy CONTAINS matcher,
    ``cartography/graph/querybuilder.py:139-141``, whose semantics are
    one-sided by construction).

    Scale shape, mirroring :func:`minhash_lsh_pairs`:
    - the sketch is a row-local fold (k smallest shingle hashes) — a
      pure map stage riding the scan;
    - candidates come from an equi-join on INDIVIDUAL sketch hashes
      (two docs are compared only when their bottom-k samples share an
      element — any pair with non-trivial containment collides w.h.p.);
    - hot hashes (boilerplate shingles) are capped at ``max_bucket``
      exactly like LSH band buckets;
    - pairs are deduped on BARE ids first, then the k-element sketches
      re-attach via SHUFFLE_HASH-hinted equi-joins, so the dedup
      shuffle carries ids only and nothing is ever broadcast at corpus
      size.

    Columns: ``id_a, id_b, containment_ab, containment_ba,
    jaccard_est`` (doubles, 4dp, ``max(c_ab, c_ba) >= threshold``).

    ``shingle_mode="word"`` sketches distinct word ``shingle_n``-grams
    instead of char n-grams — the right granularity for quoted-passage
    containment (and far more selective on small vocabularies).
    """
    if shingle_mode == "word":
        from cartography_spark.functions.textstats import word_shingles

        sh = F.array_distinct(word_shingles(text_col, shingle_n))
    elif shingle_mode == "char":
        sh = char_shingles(text_col, shingle_n)
    else:
        raise ValueError(f"unknown shingle_mode {shingle_mode!r}")
    sk_store = df.select(
        F.col(id_col).alias("doc_id"),
        bottomk_sketch(sh, k, family).alias("__sk"),
    )
    base = sk_store.select("doc_id", F.explode("__sk").alias("__h"))
    sized = base.withColumn("__bs", F.count("*").over(Window.partitionBy("__h")))
    bounded = sized.where(F.col("__bs") <= max_bucket).drop("__bs")
    b = bounded.select(F.col("doc_id").alias("doc_id_b"), F.col("__h"))
    bare = (
        bounded.join(b, "__h")
        .where(F.col("doc_id") < F.col("doc_id_b"))
        .select(F.col("doc_id").alias("id_a"), F.col("doc_id_b").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    pairs = bare.join(
        sk_store.select(F.col("doc_id").alias("id_a"), F.col("__sk").alias("sk_a"))
        .hint("shuffle_hash"),
        "id_a",
    ).join(
        sk_store.select(F.col("doc_id").alias("id_b"), F.col("__sk").alias("sk_b"))
        .hint("shuffle_hash"),
        "id_b",
    )
    # Stage K and the restricted samples in their own projections (the
    # let-binding idiom): each array expression below is computed once
    # per pair and then only sized.
    staged = pairs.withColumn(
        "__ku", F.slice(F.array_sort(F.array_union("sk_a", "sk_b")), 1, k)
    ).withColumn("__ka", F.array_intersect("__ku", "sk_a")).withColumn(
        "__kb", F.array_intersect("__ku", "sk_b")
    )
    m = staged.select(
        "id_a",
        "id_b",
        F.size(F.array_intersect("__ka", "sk_b")).alias("__nboth"),
        F.size("__ka").alias("__na"),
        F.size("__kb").alias("__nb"),
        F.size("__ku").alias("__nk"),
    )
    c_ab = F.when(
        F.col("__na") > 0, F.round(F.col("__nboth") / F.col("__na"), 4)
    ).otherwise(F.lit(0.0))
    c_ba = F.when(
        F.col("__nb") > 0, F.round(F.col("__nboth") / F.col("__nb"), 4)
    ).otherwise(F.lit(0.0))
    return (
        m.select(
            "id_a",
            "id_b",
            c_ab.cast("double").alias("containment_ab"),
            c_ba.cast("double").alias("containment_ba"),
            F.round(F.col("__nboth") / F.col("__nk"), 4).cast("double").alias("jaccard_est"),
        )
        .where(F.greatest("containment_ab", "containment_ba") >= threshold)
    )


# ---------------- SimHash ----------------


def simhash_fingerprints_arrow2(
    df: DataFrame, id_col: str, text_col: str, shingle_n: int = 3
) -> DataFrame:
    """(doc_id, fp) computed ENTIRELY Python-side: shingling, the
    memoized md5-low-64 base hash, and the numpy majority fold all run
    in one Arrow pass over the raw text — no interpreted JVM shingling
    HOF anywhere, and only the text crosses the Arrow boundary. Bit
    order is MSB-first (bit 63 first); a bit is set when at least half
    of the doc's distinct shingles set it. NULL text ⇒ NULL fp (the
    chunk equi-join then drops the doc)."""
    import hashlib

    import numpy as np
    import pandas as pd

    staged = df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("__text"))
    id_type = staged.schema["doc_id"].dataType.simpleString()

    def fold(batches):
        for pdf in batches:
            memo: dict[str, int] = {}
            fps = []
            for text in pdf["__text"]:
                if text is None:
                    fps.append(None)
                    continue
                s = text.lower()
                n_pos = max(len(s) - (shingle_n - 1), 1)
                grams = {s[i : i + shingle_n] for i in range(n_pos)}
                hs = np.empty(len(grams), dtype=np.uint64)
                for j, g in enumerate(grams):
                    h = memo.get(g)
                    if h is None:
                        h = int.from_bytes(hashlib.md5(g.encode("utf-8")).digest()[:8], "big")
                        memo[g] = h
                    hs[j] = h
                # little-endian uint64 -> MSB-first bit matrix (rows=shingles)
                bits = np.unpackbits(hs.view(np.uint8).reshape(-1, 8)[:, ::-1], axis=1)
                maj = bits.sum(axis=0) * 2 >= len(hs)
                val = 0
                for b in maj:
                    val = (val << 1) | int(b)
                fps.append(val - (1 << 64) if val >= (1 << 63) else val)
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "fp": pd.array(fps, dtype="Int64")})

    return staged.mapInPandas(fold, f"doc_id {id_type}, fp long")


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    max_hamming: int = 3,
    engine: str = "arrow2",
) -> DataFrame:
    """Near-dup pairs by 64-bit SimHash Hamming distance <= max_hamming.

    Blocking by pigeonhole: split the 64-bit fingerprint into
    ``max_hamming+1`` chunks — any pair within the distance budget
    agrees on at least one chunk, so candidates come from equi-joins on
    (chunk_idx, chunk_value). Columns: id_a, id_b, hamming.

    Fingerprints come from :func:`simhash_fingerprints_arrow2`, the one
    production engine; ``engine`` accepts only ``"arrow2"``. The
    oracle-checked twin is :func:`simhash_pairs_md5`."""
    if engine != "arrow2":
        raise ValueError(f"unknown SimHash engine {engine!r} (only 'arrow2')")
    chunks = max_hamming + 1
    width = -(-64 // chunks)  # ceil: every bit must be covered by a chunk
    base = simhash_fingerprints_arrow2(df, id_col, text_col, shingle_n)
    # Materialize the fingerprints BEFORE the self-join: both join sides
    # reference this subtree and Spark has no cross-side CSE, so without
    # a barrier the whole shingle→hash→fold pipeline (the dominant cost)
    # executes twice — measured ~2x the fingerprint wall at sf0.1. The
    # stored frame is (doc_id, 8-byte fp): cheap to hold at ANY corpus
    # size, expensive to recompute. localCheckpoint trades lineage
    # (executor-loss re-run) for halving the compute — the same
    # deliberate tradeoff operators/components.py documents.
    base = base.localCheckpoint(eager=True)
    mask = (1 << width) - 1
    chunked = base.select(
        "doc_id",
        "fp",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("ci"),
                        F.shiftright(F.col("fp"), c * width).bitwiseAND(F.lit(mask)).alias("cv"),
                    )
                    for c in range(chunks)
                ]
            )
        ).alias("chunk"),
    ).select("doc_id", "fp", F.col("chunk.ci").alias("ci"), F.col("chunk.cv").alias("cv"))
    b = chunked.select(
        F.col("doc_id").alias("doc_id_b"), F.col("fp").alias("fp_b"), "ci", "cv"
    )
    return (
        chunked.join(b, ["ci", "cv"])
        .where(F.col("doc_id") < F.col("doc_id_b"))
        .select(
            F.col("doc_id").alias("id_a"),
            F.col("doc_id_b").alias("id_b"),
            F.bit_count(F.col("fp").bitwiseXOR(F.col("fp_b"))).alias("hamming"),
        )
        # hamming BEFORE the pair-dedup: bit_count(xor) is one codegen
        # instruction and identical across a pair's duplicate candidate
        # rows, so filtering first is value-identical and keeps spurious
        # same-chunk collisions (quadratic in corpus size at fixed chunk
        # width) out of the dedup shuffle. The md5 twin keeps the
        # opposite order on purpose — its hamming is an interpreted HOF
        # fold, cheapest evaluated once per UNIQUE pair.
        .where(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
    )


def simhash32_md5(sh: Column) -> Column:
    """32-bit SimHash as a '0'/'1' string — md5 family (oracle-portable:
    bit j = high bit of hex nibble j of md5(shingle), so both engines
    derive identical fingerprints from identical strings). Single fold
    over the *materialized* shingle array."""
    hexes = F.transform(
        sh,
        lambda s: F.filter(F.split(F.md5(s), "(?!^)"), lambda c: c != ""),
    )
    counts = F.aggregate(
        hexes,
        F.array_repeat(F.lit(0), 32),
        lambda acc, h: F.zip_with(
            acc,
            F.transform(
                h,
                lambda c: F.when(
                    c.isin("8", "9", "a", "b", "c", "d", "e", "f"), F.lit(1)
                ).otherwise(F.lit(0)),
            ),
            lambda a, x: a + x,
        ),
    )
    n = F.size(sh)
    return F.concat_ws(
        "",
        F.transform(counts, lambda c: F.when(c * 2 >= n, F.lit("1")).otherwise(F.lit("0"))),
    )


def simhash_pairs_md5(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs by 32-bit md5-family SimHash, Hamming <=
    max_hamming — the oracle-checked twin of :func:`simhash_pairs`
    (same pigeonhole blocking: ``max_hamming+1`` chunks, any qualifying
    pair agrees on >=1 chunk, candidates from (chunk_idx, chunk_value)
    equi-joins). Columns: id_a, id_b, hamming."""
    chunks = max_hamming + 1
    width = -(-32 // chunks)
    base = df.select(
        F.col(id_col).alias("doc_id"), char_shingles(text_col, shingle_n).alias("__sh")
    ).select("doc_id", simhash32_md5(F.col("__sh")).alias("fp"))
    chunked = base.select(
        "doc_id",
        "fp",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("ci"),
                        F.substring("fp", c * width + 1, width).alias("cv"),
                    )
                    for c in range(chunks)
                ]
            )
        ).alias("chunk"),
    ).select("doc_id", "fp", F.col("chunk.ci").alias("ci"), F.col("chunk.cv").alias("cv"))
    b = chunked.select(
        F.col("doc_id").alias("doc_id_b"), F.col("fp").alias("fp_b"), "ci", "cv"
    )
    diff = F.zip_with(
        F.split(F.col("fp"), "(?!^)"),
        F.split(F.col("fp_b"), "(?!^)"),
        lambda x, y: (x != y).cast("int"),
    )
    return (
        chunked.join(b, ["ci", "cv"])
        .where(F.col("doc_id") < F.col("doc_id_b"))
        .dropDuplicates(["doc_id", "doc_id_b"])
        .select(
            F.col("doc_id").alias("id_a"),
            F.col("doc_id_b").alias("id_b"),
            F.aggregate(diff, F.lit(0), lambda a, x: a + x).cast("long").alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
    )


# ---------------- embedding cosine near-dup ----------------


def _cosine_verify(joined: DataFrame, threshold: float) -> DataFrame:
    """Exact-cosine verify over candidate pairs carrying STAGED norms.

    ``joined`` must have (vid, vid_b, vec, vec_b, __nrm, __nrm_b) —
    norms computed once per *row* upstream of the pair join. The
    per-pair dot product runs as the Arrow fold
    (:func:`~cartography_spark.operators.similarity.pair_dot_arrow` —
    bit-identical to the interpreted expression fold, so the rounded
    cosines and oracle hashes are unchanged); division, rounding, and
    the threshold stay JVM-side. Columns out: id_a, id_b, cosine."""
    from cartography_spark.operators.similarity import pair_dot_arrow

    return (
        pair_dot_arrow(joined, "vec", "vec_b")
        .withColumn("cosine", F.round(F.col("__dot") / (F.col("__nrm") * F.col("__nrm_b")), 4))
        .where(F.col("cosine") >= threshold)
        .select(F.col("vid").alias("id_a"), F.col("vid_b").alias("id_b"), F.col("cosine"))
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    block_col: str | None = None,
) -> DataFrame:
    """Pairs with cosine similarity >= threshold. With ``block_col``
    (e.g. an LSH/IVF bucket from operators.similarity) the join is an
    equi-join on the block; without it, a full cross self-join — only
    for small/broadcastable inputs. Columns: id_a, id_b, cosine."""
    from cartography_spark.operators.similarity import norm

    if block_col:
        # Bare-id pair dedup BEFORE the verify (a pair sharing several
        # blocks would otherwise be cosine-verified once per block);
        # vectors re-attach via equi-joins, so the dedup shuffle never
        # carries float payloads. Norms are STAGED on the vecs side —
        # evaluated once per row under the join, not once per pair.
        vecs = (
            df.select(F.col(id_col).alias("vid"), F.col(vec_col).alias("vec"))
            .dropDuplicates(["vid"])
            .withColumn("__nrm", norm(F.col("vec")))
        )
        base = df.select(F.col(block_col).alias("block"), F.col(id_col).alias("vid"))
        b = base.select("block", F.col("vid").alias("vid_b"))
        joined = (
            base.join(b, "block")
            .where(F.col("vid") < F.col("vid_b"))
            .select("vid", "vid_b")
            .dropDuplicates(["vid", "vid_b"])
            .join(vecs, "vid")
            .join(
                vecs.select(
                    F.col("vid").alias("vid_b"),
                    F.col("vec").alias("vec_b"),
                    F.col("__nrm").alias("__nrm_b"),
                ),
                "vid_b",
            )
        )
    else:
        base = df.select(F.col(id_col).alias("vid"), F.col(vec_col).alias("vec")).withColumn(
            "__nrm", norm(F.col("vec"))
        )
        b = base.select(
            F.col("vid").alias("vid_b"),
            F.col("vec").alias("vec_b"),
            F.col("__nrm").alias("__nrm_b"),
        )
        joined = base.crossJoin(b).where(F.col("vid") < F.col("vid_b"))
    return _cosine_verify(joined, threshold)


def embedding_near_dup_lsh(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.45,
    bits: int = 4,
    sets: int = 12,
    dim: int = 64,
    seed: int = 7,
) -> DataFrame:
    """LSH-blocked embedding near-dup pairs — the 100 TB shape: no
    cross product anywhere, candidates come from ``sets`` equi-joins on
    sign-bit bucket keys (see
    :func:`cartography_spark.operators.similarity.coord_sign_buckets`),
    pairs deduped before the exact-cosine verify.

    Recall semantics: a qualifying pair is emitted iff the two vectors
    share at least one of the ``sets`` bucket keys — standard LSH
    recall < 1 by construction (per-pair miss probability
    ``(1-p^bits)^sets`` with ``p = 1 - θ/π``). Blocking is fully
    deterministic (seeded coordinate subsets, no float arithmetic in
    the key), so a single-node oracle replicates the result exactly.
    Raise ``sets`` (or lower ``bits``) for recall; raise ``bits`` for
    selectivity — at near-dup thresholds (≥0.9) ``bits=16`` keeps
    candidate counts ~linear. Columns: id_a, id_b, cosine."""
    from cartography_spark.operators.similarity import (
        coord_plane_dims,
        coord_sign_buckets,
        norm,
    )

    dims = coord_plane_dims(dim, bits, sets, seed)
    vecs = df.select(F.col(id_col).alias("vid"), F.col(vec_col).alias("vec")).withColumn(
        "__nrm", norm(F.col("vec"))
    )
    base = vecs.select(
        "vid", F.explode(coord_sign_buckets(F.col("vec"), dims)).alias("bucket")
    )
    b = base.select(F.col("vid").alias("vid_b"), F.col("bucket"))
    # Dedup BARE id pairs first (a pair sharing k buckets appears k
    # times) — the dedup shuffle then carries two ids, not two 64-float
    # payloads; vectors (with staged norms) re-attach afterwards via
    # two equi-joins.
    pairs = (
        base.join(b, "bucket")
        .where(F.col("vid") < F.col("vid_b"))
        .select("vid", "vid_b")
        .dropDuplicates(["vid", "vid_b"])
        .join(vecs, "vid")
        .join(
            vecs.select(
                F.col("vid").alias("vid_b"),
                F.col("vec").alias("vec_b"),
                F.col("__nrm").alias("__nrm_b"),
            ),
            "vid_b",
        )
    )
    return _cosine_verify(pairs, threshold)


def ngram_spans(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
) -> DataFrame:
    """Every word ``n``-gram of every document with its 1-based token
    position: ``(id, pos, gram)``. The positional n-gram stream behind
    :func:`repeated_ngram_spans` — exposed so callers can join the
    repeated-gram set back to positions and excise the spans (the
    ExactSubstr-style removal step).

    The token array is staged as a real column before the transform
    lambda references it (the PLANS.md let-binding idiom), and each
    token starts at most one gram, so the stream is one row per token —
    never quadratic.
    """
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    staged = docs.select(
        F.col(id_col).alias("id"), F.split(F.col(text_col), " ").alias("__toks")
    )
    grams = F.when(
        F.size("__toks") >= n,
        F.expr(
            f"transform(sequence(1, size(__toks) - {n} + 1), "
            f"i -> concat_ws(' ', slice(__toks, i, {n})))"
        ),
    ).otherwise(F.array().cast("array<string>"))
    return staged.select("id", F.posexplode(grams).alias("pos0", "gram")).select(
        "id", (F.col("pos0") + 1).alias("pos"), "gram"
    )


def repeated_ngram_spans(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
    min_docs: int = 2,
) -> DataFrame:
    """Cross-document repeated ``n``-gram detection (the exact-substring
    signal of Lee et al. 2022, "Deduplicating Training Data Makes
    Language Models Better", at fixed span length): every word n-gram
    appearing in at least ``min_docs`` DISTINCT documents, with its
    document frequency and total occurrence count —
    ``(gram, n_docs, n_occurrences)``. Repeated spans are boilerplate /
    quotation / template text: the removal candidates document-level
    near-dup (MinHash/SimHash) cannot see because the containing docs
    are otherwise different.

    Scale shape: the positional gram stream is one row per token (see
    :func:`ngram_spans`); the aggregate is one hash exchange on the
    gram with map-side combine, and ``count(distinct id)`` rides the
    same exchange (partial distinct per gram). Integer-exact end to
    end. Join the result back to :func:`ngram_spans` on ``gram`` to
    locate the spans for excision.
    """
    if min_docs < 2:
        raise ValueError(f"min_docs must be >= 2, got {min_docs}")
    grams = ngram_spans(docs, id_col, text_col, n)
    return (
        grams.groupBy("gram")
        .agg(
            F.countDistinct("id").alias("n_docs"),
            F.count("*").alias("n_occurrences"),
        )
        .where(F.col("n_docs") >= min_docs)
    )


def excise_repeated_ngrams(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
    min_docs: int = 2,
) -> DataFrame:
    """Remove every cross-document repeated word ``n``-gram span from
    the text — the excision half of the Lee et al. 2022 exact-substring
    dedup (repeated_ngram_spans finds the boilerplate; this cuts it).
    A token is dropped iff it is covered by ANY occurrence of a
    repeated gram (a gram starting at token position s covers
    s..s+n-1); survivors rejoin with single spaces in original order.
    Returns ``(id, n_tokens, n_removed, clean_text)``.

    Scale shape: the corpus itself never regroups — the gram stream is
    one row per token, only REPEATED-gram occurrences survive the
    gram-keyed semi-join, and they aggregate to one start-position
    array per affected doc (bounded by that doc's boilerplate hits,
    not its length). That small frame left-joins back on id (AQE can
    broadcast it when boilerplate is rare) and the mask is then pure
    row-local array logic: token i survives iff no start lies in
    [i-n+1, i]. The per-row cost is O(tokens x hits); a corpus whose
    docs are MOSTLY boilerplate degrades toward quadratic per row —
    at that point excision is the wrong tool (drop the doc).

    The starts array is let-bound through the join (a real column),
    per the PLANS.md idiom — the exists() lambda references it without
    recomputing the aggregate.
    """
    rep = repeated_ngram_spans(docs, id_col, text_col, n, min_docs).select("gram")
    hits = (
        ngram_spans(docs, id_col, text_col, n)
        .join(rep, "gram", "left_semi")
        .groupBy("id")
        .agg(F.sort_array(F.collect_set("pos")).alias("__starts"))
    )
    staged = docs.select(
        F.col(id_col).alias("id"), F.split(F.col(text_col), " ").alias("__toks")
    ).join(hits, "id", "left")
    kept = F.filter(
        F.zip_with(
            F.col("__toks"),
            F.sequence(F.lit(1), F.size("__toks")),
            lambda t, i: F.struct(t.alias("t"), i.alias("i")),
        ),
        lambda s: ~F.exists(
            F.coalesce(F.col("__starts"), F.array().cast("array<int>")),
            lambda st: (st <= s["i"]) & (s["i"] < st + F.lit(n)),
        ),
    )
    return staged.select(
        "id",
        F.size("__toks").alias("n_tokens"),
        (F.size("__toks") - F.size(kept)).alias("n_removed"),
        F.array_join(F.transform(kept, lambda s: s["t"]), " ").alias("clean_text"),
    )
