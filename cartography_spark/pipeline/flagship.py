"""The flagship KG-construction pipeline, modular and fused forms.

Modular: synthesize (Arrow stage) -> extract_text (a Catalyst
projection, no Python worker) -> extract_triples (Arrow stage), each
independently reusable/testable.

Fused: the three Python batch generators (synthesize, the
``extract_text_str`` oracle stage, extract_triples) composed into ONE
mapInPandas (functions/fuse.py) — one Python worker per task slot, one
Arrow round-trip. Output is row-identical to the modular form
(tests/test_triples_paths.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from cartography_spark.functions.fuse import apply_fused
from cartography_spark.functions.textextract import extract_text, extract_text_stage
from cartography_spark.functions.triples import (
    TRIPLES_SCHEMA,
    extract_triples,
    extract_triples_stage,
)
from cartography_spark.sources.pages import synthesize_pages, synthesize_pages_stage


def page_triples(spark: SparkSession, n: int, seed: int = 42,
                 partitions: int | None = None) -> DataFrame:
    """Modular chain: two Arrow stages around the JVM text extraction."""
    pages = synthesize_pages(spark, n, seed=seed, partitions=partitions)
    text = extract_text(pages.drop("text"), "html", "text")
    return extract_triples(text)


def page_triples_fused(spark: SparkSession, n: int, seed: int = 42,
                       partitions: int | None = None) -> DataFrame:
    """Fused single Arrow stage — the production/scale form."""
    if partitions is None:
        partitions = spark.sparkContext.defaultParallelism
    base = spark.range(0, n, 1, partitions)
    return apply_fused(
        base,
        TRIPLES_SCHEMA,
        synthesize_pages_stage(seed),
        extract_text_stage(["url", "warc_ts"], "html", "text"),
        extract_triples_stage("text"),
    )
