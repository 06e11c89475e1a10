"""OpenIE-style (subj, pred, obj) triple extraction.

Two extractors:

- :func:`extract_triples` — sentence-pattern extraction over the
  ``pages`` corpus (vectorized pandas regex inside ``mapInPandas``;
  the fan-out 1 page -> N triples mirrors the reference's fan-out
  transform, ``cartography/intel/aws/ec2/instances.py:75-198``).
- :func:`extract_mentions` — pure-JVM entity-mention extraction
  (split + explode + vocabulary semi-join), used where the per-row
  logic is expressible without Python at all: this is the fast path
  and stays inside WholeStageCodegen.

Scale: extraction is embarrassingly parallel (narrow); the only wide
op downstream is the aggregation/linking the caller adds. The pred
vocabulary is tiny and broadcast by Catalyst automatically.
"""

from __future__ import annotations

import re
from collections.abc import Iterator, Sequence

import pandas as pd
from pyspark.sql import DataFrame, functions as F

# Sentence grammar of the synthetic corpus: "<Entity> <pred phrase> <Entity>."
# where predicates are 1-2 lowercase words. Multi-match per text via
# pandas .str.extractall (vectorized, no Python loop).
SENTENCE_RE = re.compile(
    r"(?P<subj>[A-Z][A-Za-z0-9]*) (?P<pred>[a-z]+(?: [a-z]+)?) (?P<obj>[A-Z][A-Za-z0-9]*)\."
)

TRIPLES_SCHEMA = "url string, warc_ts timestamp, subj string, pred string, obj string"


def extract_triples_stage(text_col: str = "text"):
    """Fusable Arrow stage (functions/fuse.py): text batches -> triple
    batches (1 page -> N matched sentences, unmatched pages drop)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            matches = pdf[text_col].str.extractall(SENTENCE_RE)
            if len(matches) == 0:
                continue
            matches = matches.reset_index(level=1, drop=True)
            out = pdf[["url", "warc_ts"]].join(matches, how="inner")
            out["pred"] = out["pred"].str.replace(" ", "_", regex=False)
            yield out[["url", "warc_ts", "subj", "pred", "obj"]]

    return run


def extract_triples(df: DataFrame, text_col: str = "text") -> DataFrame:
    """pages(url, warc_ts, text, ...) -> triples(url, warc_ts, subj, pred, obj).

    One output row per matched sentence; rows with no match drop out
    (reference analog: conditional row filters, T3).
    """
    return df.mapInPandas(extract_triples_stage(text_col), schema=TRIPLES_SCHEMA)


_SENTENCE_SQL = r"([A-Z][A-Za-z0-9]*) ([a-z]+(?: [a-z]+)?) ([A-Z][A-Za-z0-9]*)\\."


def extract_triples_jvm(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Whole-stage-codegen twin of :func:`extract_triples`: one
    ``regexp_extract_all`` of whole sentences, explode, then the fields
    by string ops. A match is ``Subj pred [pred2] Obj.``, 3 or 4
    single-space-separated tokens, so ``subj`` is the first token,
    ``obj`` the last without its ``.``, and ``pred`` the middle tokens
    joined by ``_``. Verified output-identical to the pandas path
    (tests/test_triples_paths.py) and to the regex's capture groups
    (tests/test_jvm_extraction.py); use it when the pipeline must stay
    JVM-only (no Python workers)."""
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
