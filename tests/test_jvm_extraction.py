"""The JVM extraction kernels against their Python oracles on hand-built
edge cases: ``extract_text`` (one Catalyst projection) must equal
``extract_text_str`` over ``errors="replace"`` decoding, and
``extract_triples_jvm``'s split-derived fields must equal the
sentence regex's capture groups."""

from __future__ import annotations

import datetime
import random

from cartography_spark.functions.textextract import extract_text, extract_text_str
from cartography_spark.functions.triples import SENTENCE_RE, extract_triples_jvm

HTML_CASES = [
    b"<p>a</p>\xff\xfe<p>b\xff</p>",  # invalid bytes
    b"<p>x\xed\xa0\x80y</p>",  # encoded surrogate: three U+FFFD, not one
    b"<p>x\xe2\x82</p>",  # truncated sequence
    b"<p>t\xe2\x82",
    b"<SCRIPT>bad<p>IN</p></script><p>ok</p>",
    b"<Style>x</sTYLE><p>ok</p>",
    "<\u017fcript><p>IN</p></script><p>ok</p>".encode(),  # U+017F is no 's'
    "<\u017fcript><p>IN</p></\u017fcript><p>ok</p>".encode(),
    "<scr\u0130pt><p>IN</p></scr\u0130pt><p>ok</p>".encode(),  # nor U+0130/U+0131 'i'
    "<scr\u0131pt><p>IN</p></script><p>ok</p>".encode(),
    "<script\u0301><p>IN</p></script><p>ok</p>".encode(),  # combining mark
    "<script\u00e9><p>IN</p></script><p>ok</p>".encode(),
    "<nav\u0660><p>IN</p></nav><p>ok</p>".encode(),  # Arabic-Indic digit
    b"<style_><p>IN</p></style><p>ok</p>",
    b"<aside-x><p>IN</p></aside><p>ok</p>",
    b"<header x=1>h<p>no</p></HEADER><p>ok</p>",
    b"<nav>\n<p>no</p>\n</nav><p>a\nb</p><footer\n>\r\n<p>no</p></footer>",
    "<p>\u2028x\r\ny\u0085</p><aside> <p>no</p></aside>".encode(),
    b"<script>never closed<p>ok</p>",
    b"<p>kept</p><script>never closed<p>ok</p>",
    b"<nav><p>a</p></footer><p>b</p>",  # mismatched close: no block
    b"<p></p><p>a</p><p>b",
    b"<p>a<p>b</p>c</p>",
    b"<P>upper</P><p>lower</p>",
    b"just text, no paragraph",
    b"",
    None,
]

_FRAGMENTS = [
    "<p>", "</p>", "<script>", "</script>", "<SCRIPT x=1>", "</Script>", "<nav>",
    "</NAV>", "<footer>", "</footer>", "<header\n>", "</header>", "<aside>",
    "</aside>", "<style>", "</style>", "\u017f", "\u0130", "\u0131", "\u0301",
    "\u00e9", "\u0660", "_", "x", "Alice", " ", "\n", "\r", "\u2028", "\ufffd",
    "<", ">", "/",
]
_BAD_BYTES = [b"\xff", b"\xed\xa0\x80", b"\xe2\x82", b"\xc0\xaf", b"\xf4\x90\x80\x80"]


def _fuzz_html(rng: random.Random) -> bytes:
    out = b""
    for _ in range(rng.randrange(1, 25)):
        if rng.random() < 0.1:
            out += rng.choice(_BAD_BYTES)
        else:
            out += rng.choice(_FRAGMENTS).encode()
    return out


def _oracle_text(html: bytes | None) -> str:
    return "" if html is None else extract_text_str(html.decode("utf-8", errors="replace"))


def test_jvm_extract_text_matches_python_oracle(spark):
    rng = random.Random(7)
    docs = HTML_CASES + [_fuzz_html(rng) for _ in range(400)]
    df = spark.createDataFrame(
        [(i, h, "stale", "en") for i, h in enumerate(docs)],
        "id int, html binary, text string, lang string",
    )
    out = extract_text(df, "html", "text")
    assert out.columns == ["id", "lang", "text"]
    got = {r["id"]: r["text"] for r in out.collect()}
    mismatched = [(docs[i], got[i], _oracle_text(docs[i]))
                  for i in range(len(docs)) if got[i] != _oracle_text(docs[i])]
    assert mismatched == []


def test_jvm_extract_text_plan_has_no_python(spark):
    from cartography_spark.sources.pages import PAGES_SCHEMA

    pages = spark.createDataFrame([], PAGES_SCHEMA)
    df = extract_triples_jvm(extract_text(pages, "html", "text"))
    plan = df._jdf.queryExecution().executedPlan().toString()
    for node in ("MapInPandas", "ArrowEvalPython", "BatchEvalPython", "PythonUDF"):
        assert node not in plan


TRIPLE_TEXTS = [
    "Alice works at Acme.",  # two-word predicate -> works_at
    "R2D2 repairs C3PO. Unit7 owns X9.",  # digits in entity names
    "Alice knows Bob.Carol met Dan.Eve likes Frank.",  # back to back
    "Alice knows Bob. Carol met Dan",  # last sentence missing its '.'
    "Alice knows Bob",
    "alice knows Bob. bob met Carol.",  # lowercase-initial subject
    "xAlice knows Bob.",  # match starts mid-token
    "Alice works at home Bob. Alice is Bob..",  # 3-word pred; double dot
    "Alice  knows Bob. Alice knows  Bob.",  # double spaces never match
    "",
]


def _regex_triples(text: str) -> list[tuple[str, str, str]]:
    return [(m["subj"], m["pred"].replace(" ", "_"), m["obj"])
            for m in SENTENCE_RE.finditer(text)]


def _fuzz_text(rng: random.Random) -> str:
    words = ["Alice", "R2", "x3Y", "Q", "knows", "works at", "met", "is", "a",
             "bob", ".", ". ", " ", "  ", "Zed9.", "at"]
    return "".join(rng.choice(words) + rng.choice(["", " "]) for _ in range(rng.randrange(1, 14)))


def test_split_fields_match_regex_groups(spark):
    rng = random.Random(11)
    texts = TRIPLE_TEXTS + [_fuzz_text(rng) for _ in range(300)]
    ts = datetime.datetime(2025, 1, 1)
    df = spark.createDataFrame(
        [(f"u{i}", ts, t) for i, t in enumerate(texts)],
        "url string, warc_ts timestamp, text string",
    )
    expected = sorted((f"u{i}", *t) for i, text in enumerate(texts)
                      for t in _regex_triples(text))
    got = sorted((r["url"], r["subj"], r["pred"], r["obj"])
                 for r in extract_triples_jvm(df).collect())
    assert got == expected
    assert ("u0", "Alice", "works_at", "Acme") in expected
    assert [t[1:] for t in expected if t[0] == "u2"] == [
        ("Alice", "knows", "Bob"), ("Carol", "met", "Dan"), ("Eve", "likes", "Frank")]
    assert [t[1:] for t in expected if t[0] == "u3"] == [("Alice", "knows", "Bob")]
