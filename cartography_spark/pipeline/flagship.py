"""The flagship KG-construction chain: synthesize pages (the one Arrow
stage, test scaffolding standing in for a pages table) ->
:func:`~cartography_spark.functions.textextract.extract_text` ->
:func:`~cartography_spark.functions.triples.extract_triples_jvm`.
Extraction and triple splitting are Catalyst expressions, so no Python
worker runs past the page generator (tests/test_triples_paths.py pins
the chain against the Python oracles).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from cartography_spark.functions.textextract import extract_text
from cartography_spark.functions.triples import extract_triples_jvm
from cartography_spark.sources.pages import synthesize_pages


def page_triples(spark: SparkSession, n: int, seed: int = 42,
                 partitions: int | None = None) -> DataFrame:
    """``n`` synthesized pages -> triples(url, warc_ts, subj, pred, obj),
    extracted from the html (the golden ``text`` column is dropped)."""
    pages = synthesize_pages(spark, n, seed=seed, partitions=partitions)
    return extract_triples_jvm(extract_text(pages.drop("text"), "html", "text"))
