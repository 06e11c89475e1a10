"""OpenIE-style (subj, pred, obj) triple extraction.

Two extractors, both pure JVM (no Python worker):

- :func:`extract_triples_jvm` — sentence-pattern extraction over the
  ``pages`` corpus: one ``regexp_extract_all`` + explode inside
  WholeStageCodegen; the fan-out 1 page -> N triples mirrors the
  reference's fan-out transform,
  ``cartography/intel/aws/ec2/instances.py:75-198``. Its Python
  parity oracle is :data:`SENTENCE_RE` (tests/test_triples_paths.py,
  tests/test_jvm_extraction.py).
- :func:`extract_mentions` — entity-mention extraction (split +
  explode + vocabulary semi-join).

Scale: extraction is embarrassingly parallel (narrow); the only wide
op downstream is the aggregation/linking the caller adds. The pred
vocabulary is tiny and broadcast by Catalyst automatically.
"""

from __future__ import annotations

import re
from collections.abc import Sequence

from pyspark.sql import DataFrame, functions as F

# Sentence grammar of the synthetic corpus: "<Entity> <pred phrase> <Entity>."
# where predicates are 1-2 lowercase words. The parity oracle of
# extract_triples_jvm; _SENTENCE_SQL is its Java spelling.
SENTENCE_RE = re.compile(
    r"(?P<subj>[A-Z][A-Za-z0-9]*) (?P<pred>[a-z]+(?: [a-z]+)?) (?P<obj>[A-Z][A-Za-z0-9]*)\."
)

_SENTENCE_SQL = r"([A-Z][A-Za-z0-9]*) ([a-z]+(?: [a-z]+)?) ([A-Z][A-Za-z0-9]*)\\."


def extract_triples_jvm(df: DataFrame, text_col: str = "text") -> DataFrame:
    """pages(url, warc_ts, text, ...) -> triples(url, warc_ts, subj,
    pred, obj), one row per matched sentence; rows with no match drop
    out (reference analog: conditional row filters, T3).

    One ``regexp_extract_all`` of whole sentences, explode, then the
    fields by string ops. A match is ``Subj pred [pred2] Obj.``, 3 or 4
    single-space-separated tokens, so ``subj`` is the first token,
    ``obj`` the last without its ``.``, and ``pred`` the middle tokens
    joined by ``_``. Output-identical to :data:`SENTENCE_RE`'s capture
    groups with ``pred`` spaces turned into ``_``
    (tests/test_triples_paths.py on a synthesized corpus,
    tests/test_jvm_extraction.py on hand-built and fuzzed texts)."""
    matches = df.select(
        "url",
        "warc_ts",
        F.explode(
            F.expr(f"regexp_extract_all({text_col}, '{_SENTENCE_SQL}', 0)")
        ).alias("m"),
    )
    toks = matches.select("url", "warc_ts", F.split("m", " ").alias("toks"))
    last = F.element_at("toks", -1)
    return toks.select(
        "url",
        "warc_ts",
        F.element_at("toks", 1).alias("subj"),
        F.array_join(F.slice("toks", F.lit(2), F.size("toks") - 2), "_").alias("pred"),
        last.substr(F.lit(1), F.length(last) - 1).alias("obj"),
    )


def extract_mentions(
    df: DataFrame,
    id_col: str,
    text_col: str,
    vocab: Sequence[str],
    pred: str = "mentions",
) -> DataFrame:
    """JVM-only mention triples: (id, 'mentions', term, n_mentions).

    split -> explode -> vocab filter -> groupBy count. Everything stays
    in WholeStageCodegen; the vocab filter becomes an ``IN`` predicate
    pushed below the aggregation.
    """
    toks = df.select(
        F.col(id_col).alias("subj_id"),
        F.explode(F.split(F.col(text_col), " ")).alias("obj"),
    )
    return (
        toks.where(F.col("obj").isin(list(vocab)))
        .groupBy("subj_id", "obj")
        .agg(F.count("*").alias("n_mentions"))
        .select(
            F.col("subj_id"),
            F.lit(pred).alias("pred"),
            F.col("obj"),
            F.col("n_mentions"),
        )
    )


def entity_contexts(
    df: DataFrame,
    id_col: str,
    text_col: str,
    vocab: Sequence[str],
    window: int = 2,
) -> DataFrame:
    """The ±``window``-token context around every vocabulary mention:
    ``(id, pos, entity, context)`` with ``pos`` the 1-based token
    position and ``context`` the surrounding tokens (center EXCLUDED)
    joined by spaces — the entity-context corpus that feeds contextual
    entity embeddings / relation extraction, and the positional
    evidence a KG provenance record keeps per extracted mention.

    Scale shape: stays in WholeStageCodegen — the token array is staged
    once, positions come from one ``posexplode``, the vocab filter is
    an ``IN`` below it, and both context slices are row-local array ops
    (empty-safe at the text edges, test-pinned). One row per mention
    OCCURRENCE (unlike ``extract_mentions``' per-doc counts).
    """
    staged = df.select(
        F.col(id_col).alias("id"), F.split(F.col(text_col), " ").alias("__toks")
    )
    exploded = staged.select(
        "id", "__toks", F.posexplode("__toks").alias("pos0", "entity")
    ).where(F.col("entity").isin(list(vocab)))
    pos = F.col("pos0") + 1
    start = F.greatest(pos - window, F.lit(1))
    end = F.least(pos + window, F.size("__toks"))
    left = F.slice(F.col("__toks"), start, pos - start)
    right = F.slice(F.col("__toks"), pos + 1, end - pos)
    return exploded.select(
        "id",
        pos.alias("pos"),
        "entity",
        F.array_join(F.concat(left, right), " ").alias("context"),
    )
