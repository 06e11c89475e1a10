"""Matcher joins — the relationship-building layer.

Every relationship in the reference is created by matching freshly-loaded
rows against target nodes already in the graph
(``cartography/graph/querybuilder.py:256-322``; WHERE-clause variants at
``querybuilder.py:127-172``). Each variant maps to a DataFrame join:

- exact          -> equi-join                       (``querybuilder.py:137,164-170``)
- ignore_case    -> join on ``lower(a)==lower(b)``  (``querybuilder.py:138,148-154``)
- fuzzy contains -> theta-join ``instr(lower(t), lower(i)) > 0``
                                                    (``querybuilder.py:139-141,155-158``)
- one_to_many    -> ``explode(list)`` then equi-join (``querybuilder.py:142-143,159-163``)

Scale notes:
- exact / ignore_case / one_to_many are shuffle-joinable (hash on the key);
  `explode` (not ``array_contains``) keeps one_to_many an equi-join so
  Catalyst can pick SMJ/SHJ and AQE can split skewed keys.
- the fuzzy contains join is a theta-join (nested-loop): only valid with a
  broadcastable side. At web scale it must be *blocked* first — see
  :func:`cartography_spark.operators.dedup.minhash_lsh_join`, the
  cross-frame kernel that replaces the quadratic scan with MinHash-LSH
  candidate generation (entity-linking blocking lives in
  ``pipeline/linking.py``).
- missing targets drop out of the inner join, which is exactly the
  reference's CALL{}-subquery null-tolerance (``querybuilder.py:325-336``):
  each rel is computed as its own join and unioned, so one unmatched rel
  never suppresses the others.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from cartography_spark.schema.common import PropertyRef


def matcher_join(
    items: DataFrame,
    targets: DataFrame,
    keys: dict[str, PropertyRef],
    params: dict | None = None,
    target_key_col=None,
) -> DataFrame:
    """Inner-join ``items`` to ``targets`` per a TargetNodeMatcher key map.

    ``keys``: target-property-name -> PropertyRef on the item row.
    ``target_key_col``: fn(name) -> Column on targets (defaults to
    ``F.col(name)``); the graph store passes an accessor that reads
    promoted columns or the props map.

    Returns items ⋈ targets with both sides' columns (targets' columns
    prefixed ``__t_``).
    """
    if target_key_col is None:
        target_key_col = F.col

    t = targets.select(
        *[target_key_col(k).alias(f"__t_key_{k}") for k in keys],
        *[F.col(c).alias(f"__t_{c}") for c in targets.columns],
    )

    conds = []
    it = items
    # Flag precedence mirrors the reference's elif chain exactly
    # (querybuilder.py:147-163): ignore_case, then fuzzy_and_ignore_case,
    # then one_to_many, then exact — so ignore_case + one_to_many both
    # set resolves to a case-insensitive SCALAR match, as it does there.
    for k, ref in keys.items():
        tcol = F.col(f"__t_key_{k}")
        if ref.ignore_case:
            it = it.withColumn(f"__i_key_{k}", F.lower(ref.to_column(params)))
            conds.append(F.col(f"__i_key_{k}") == F.lower(tcol))
        elif ref.fuzzy_and_ignore_case:
            # target key CONTAINS item value, case-insensitive (theta-join;
            # requires a broadcastable side — use dedup.minhash_lsh_join
            # at scale)
            conds.append(F.instr(F.lower(tcol), F.lower(ref.to_column(params))) > 0)
        elif ref.one_to_many:
            # item field is an array of target ids: explode -> equi-join
            it = it.withColumn(f"__i_key_{k}", F.explode(ref.to_column(params)))
            conds.append(F.col(f"__i_key_{k}") == tcol)
        else:
            it = it.withColumn(f"__i_key_{k}", ref.to_column(params))
            conds.append(F.col(f"__i_key_{k}") == tcol)

    cond = conds[0]
    for c in conds[1:]:
        cond = cond & c
    joined = it.join(t, cond, "inner")
    return joined.drop(*[c for c in joined.columns if c.startswith("__i_key_") or c.startswith("__t_key_")])
