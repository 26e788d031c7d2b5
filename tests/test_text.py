"""Kernel golden tests: extraction byte-identity, tokenize, shingle.

Mirrors the reference's golden-value unit style (nlsh/tests/test_indexer.py).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from neural_locality_sensitive_hashing_spark.functions import text as T

GOLDEN_HTML = [
    # (html bytes, expected extracted text)
    (
        b"<html><body><header>nav</header><main><p>hello world</p></main>"
        b"<footer>f</footer></body></html>",
        "hello world",
    ),
    (
        b"<html><main><p>a &amp; b &lt;tag&gt; &quot;q&quot; &#39;s&#39;</p></main></html>",
        "a & b <tag> \"q\" 's'",
    ),
    (
        b"<html><main><div><span>nested</span> <b>tags</b> stay flat</div></main></html>",
        "nested tags stay flat",
    ),
]


def test_extract_golden(spark):
    df = spark.createDataFrame(
        [(i, h) for i, (h, _) in enumerate(GOLDEN_HTML)], "i int, html binary"
    )
    got = {r.i: r.t for r in df.select("i", T.extract_text(F.col("html")).alias("t")).collect()}
    for i, (_, want) in enumerate(GOLDEN_HTML):
        assert got[i] == want, f"doc {i}: {got[i]!r} != {want!r}"


def test_escape_roundtrip(spark):
    texts = ["a & b < c > d \"e\" 'f'", "&amp; already escaped", "plain"]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    out = df.select(
        "text",
        T.extract_text(
            F.concat(F.lit("<html><main><p>"), T.escape_html_text(F.col("text")), F.lit("</p></main></html>")).cast("binary")
        ).alias("rt"),
    ).collect()
    for r in out:
        assert r.rt == r.text


def test_tokens_and_shingles(spark):
    df = spark.createDataFrame([("  a  b c d e f ",), ("x y",)], "text string")
    rows = (
        df.select(
            T.tokens(F.col("text")).alias("toks"),
            T.shingles(T.tokens(F.col("text")), 5).alias("sh"),
        )
        .collect()
    )
    assert rows[0].toks == ["a", "b", "c", "d", "e", "f"]
    assert rows[0].sh == ["a b c d e", "b c d e f"]
    # shorter than k -> single whole-doc shingle
    assert rows[1].sh == ["x y"]


def test_shingle_set_is_distinct_hashes(spark):
    df = spark.createDataFrame([("a b a b a b a b",)], "text string")
    row = df.select(T.shingle_set(F.col("text"), 2).alias("s")).first()
    # shingles: "a b","b a" repeated -> 2 distinct hashes
    assert len(row.s) == 2


def test_analysis_kernels(spark):
    df = spark.createDataFrame(
        [("the cat is in the hat and it is big",), ("der hund ist nicht ein katze mit der",)],
        "text string",
    )
    rows = df.select(
        T.token_count(F.col("text")).alias("n"),
        T.lang_id(F.col("text")).alias("lang"),
        T.quality_score(F.col("text")).alias("q"),
    ).collect()
    assert rows[0].n == 10
    assert rows[0].lang == "en"
    assert rows[1].lang == "de"
    assert 0.0 <= rows[0].q <= 1.0


def test_bpe_token_count_literals(spark):
    """GPT-2-style pre-token counting: contractions split, punctuation
    runs collapse, space-prefixed letter/digit runs are single tokens —
    identical leftmost-first semantics to the DuckDB oracle."""
    from pyspark.sql import functions as F

    from neural_locality_sensitive_hashing_spark.functions import text as T

    rows = [
        (0, "don't stop"),          # don + 't + stop
        (1, "hello,   world!!"),    # hello + , + world + !!
        (2, "v2 cost 1299 usd"),    # v + 2 + cost + 1299 + usd
        (3, ""),                    # empty -> 0
        (4, "we'll we've we'd"),    # 3 words + 3 contraction pieces
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: r.n
        for r in df.select(
            "doc_id", T.bpe_token_count(F.col("text")).alias("n")
        ).collect()
    }
    assert got == {0: 3, 1: 4, 2: 5, 3: 0, 4: 6}
