"""The flagship chain's JVM triple extractor must match the Python
sentence oracle on a synthesized corpus; the chain must emit exactly the
triples of the generator's golden text; extraction must be
byte-identical per url across partitionings (the engine's per-row
invariant)."""

from __future__ import annotations

from collections import Counter

import pytest

from cartography_spark.functions.textextract import extract_text
from cartography_spark.functions.triples import SENTENCE_RE, extract_triples_jvm
from cartography_spark.pipeline.flagship import page_triples
from cartography_spark.sources.pages import synthesize_pages


@pytest.fixture(scope="module")
def text_df(spark):
    pages = synthesize_pages(spark, 300, seed=11)
    return extract_text(pages.drop("text"), "html", "text").cache()


def test_jvm_extraction_matches_sentence_oracle(text_df):
    """Corpus-scale parity: every (url, warc_ts, subj, pred, obj) row,
    with multiplicity, equals SENTENCE_RE's matches over the same
    extracted text (pred spaces -> ``_``)."""
    oracle = Counter(
        (r["url"], r["warc_ts"], m["subj"], m["pred"].replace(" ", "_"), m["obj"])
        for r in text_df.select("url", "warc_ts", "text").collect()
        for m in SENTENCE_RE.finditer(r["text"])
    )
    got = Counter(
        (r["url"], r["warc_ts"], r["subj"], r["pred"], r["obj"])
        for r in extract_triples_jvm(text_df).collect()
    )
    assert sum(oracle.values()) > 0
    assert got == oracle


def test_triple_precision_recall_vs_reference(spark):
    """North-rule criterion: (subj, pred, obj) P/R >= 0.95 vs the
    reference extraction. The reference triples are extracted from the
    generator's GOLDEN text column; the pipeline extracts from html.
    Both per (url, subj, pred, obj)."""
    pages = synthesize_pages(spark, 400, seed=77)
    reference = extract_triples_jvm(pages.select("url", "warc_ts", "text"))
    pipeline = page_triples(spark, 400, seed=77)
    ref_n = reference.count()
    pipe_n = pipeline.count()
    false_pos = pipeline.exceptAll(reference).count()
    false_neg = reference.exceptAll(pipeline).count()
    precision = (pipe_n - false_pos) / pipe_n
    recall = (ref_n - false_neg) / ref_n
    assert precision == 1.0 and recall == 1.0


def test_extraction_matches_golden_text(spark):
    """The extractor's output must equal the generator's golden text
    byte for byte, per url, at any partitioning."""
    for parts in (2, 13):
        pages = synthesize_pages(spark, 200, seed=3, partitions=parts)
        got = extract_text(pages.select("url", "html"), "html", "text")
        joined = got.alias("g").join(pages.select("url", "text").alias("p"), "url")
        mismatch = joined.where("g.text <> p.text").count()
        assert mismatch == 0
