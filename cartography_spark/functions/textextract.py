"""Deterministic html -> text extraction (trafilatura-style main-content
extraction, simplified to the engine's page template).

Reference analog: the per-row ``transform()`` layer (e.g.
``cartography/intel/aws/ec2/instances.py:62-198``) — per-row Python in
the reference becomes a set-at-a-time expression here.

Contract (BASELINE.json input_hint): the extracted ``text`` must be
byte-identical per url across runs, batch boundaries, and parallelism
levels. The implementation is pure string processing with no locale,
hash-order, or RNG dependence, and is pinned by golden byte-hash tests
(tests/test_triples_paths.py).

Two implementations of one spec:

- :func:`extract_text` — the production kernel: one Catalyst projection
  (UTF-8 repair, block removal, paragraph extraction, join) that stays
  in WholeStageCodegen, so the html bytes never cross into a Python
  worker. The html column is never shuffled (extraction happens in the
  scan stage, before any wide transform).
- :func:`extract_text_str` — the Python parity oracle, which
  :func:`extract_text_stage` wraps as a fusable Arrow stage for
  ``pipeline.flagship.page_triples_fused``.

The spec both follow: decode UTF-8 with U+FFFD for each invalid
sequence (Python's ``errors="replace"``); drop
script/style/nav/footer/header/aside blocks, whose tag names match
ASCII-case-insensitively (as HTML tag names do) and end where Python's
Unicode ``\\b`` puts a word boundary; join the ``<p>`` bodies with one
space.
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F

_BLOCK_TAGS = "script|style|nav|footer|header|aside"

_PARA_RE = re.compile(r"<p>(.*?)</p>", re.DOTALL)
# The ``(?a:...)`` scopes keep case-insensitive tag-name matching ASCII:
# in Unicode mode Python also folds U+017F to ``s`` and U+0130/U+0131
# to ``i``, which neither HTML nor the JVM kernel does.
_DROP_BLOCKS_RE = re.compile(
    rf"<(?a:({_BLOCK_TAGS}))\b.*?</(?a:\1)>", re.DOTALL | re.IGNORECASE
)

# Java twins of the two patterns. Java's ``(?i)`` is ASCII-only already.
# ``\b`` is spelled out as Python's boundary after a tag-name letter (the
# next char is not a letter, digit or ``_``): Java 17's ``\b`` also
# counts a combining mark after a letter as part of the word, and JDK 19
# made ``\b`` ASCII-only, so neither ``\b`` matches Python's. Java 17's
# Unicode tables (13.0) lag Python 3.11's (14.0): a letter first
# assigned in 14.0 right after a tag name still ends it on the JVM.
_PARA_JAVA = r"(?s)<p>(.*?)</p>"
_DROP_BLOCKS_JAVA = rf"(?is)<({_BLOCK_TAGS})(?![\p{{L}}\p{{N}}_]).*?</\1>"


def extract_text_str(html: str) -> str:
    """Main-content extraction for one document (deterministic).

    Drops script/style/nav/footer/header/aside blocks, then joins the
    text of ``<p>`` blocks with a single space. No entity un-escaping
    (the synthetic corpus contains none in content); no whitespace
    normalization inside paragraphs (byte-identity).
    """
    cleaned = _DROP_BLOCKS_RE.sub("", html)
    return " ".join(_PARA_RE.findall(cleaned))


def _extract_batch(html: pd.Series) -> pd.Series:
    decoded = html.map(lambda b: b.decode("utf-8", errors="replace") if b is not None else "")
    return decoded.map(extract_text_str)


def extract_text_stage(
    keep: list[str], html_col: str = "html", out_col: str = "text"
):
    """Fusable Arrow stage (see functions/fuse.py): pages batches ->
    batches of ``keep`` columns + extracted ``out_col``; the heavy html
    binary never leaves the Python worker."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pdf[keep].copy()
            out[out_col] = _extract_batch(pdf[html_col])
            yield out

    return run


def extract_text(df: DataFrame, html_col: str = "html", out_col: str = "text") -> DataFrame:
    """Replace binary ``html_col`` (and any existing ``out_col``) with
    ``out_col`` = its extracted main text, appended after the other
    columns.

    One projection: ``make_valid_utf8`` over the raw bytes (NULL html ->
    ``""``), ``regexp_replace`` of the dropped blocks,
    ``regexp_extract_all`` of the ``<p>`` bodies, ``array_join``.
    Output-identical to :func:`extract_text_str`
    (tests/test_jvm_extraction.py). ``F.decode`` is not used: it
    raises on malformed input. Nor is a plain cast: it maps an encoded
    surrogate to one U+FFFD where Python emits three.
    """
    keep = [c for c in df.columns if c not in (html_col, out_col)]
    decoded = F.coalesce(F.make_valid_utf8(F.col(html_col).cast("string")), F.lit(""))
    cleaned = F.regexp_replace(decoded, _DROP_BLOCKS_JAVA, "")
    paras = F.regexp_extract_all(cleaned, F.lit(_PARA_JAVA), F.lit(1))
    return df.select(*keep, F.array_join(paras, " ").alias(out_col))
