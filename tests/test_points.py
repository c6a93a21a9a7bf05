"""Chunk <-> point round trip (P10/F9) and source dispatch (S3/F5)."""

import warnings

from super_rag_spark.points import (chunks_to_points, points_to_chunks,
                                    source_type_expr)


def test_source_type_dispatch(spark):
    urls = [("https://x/a.pdf",), ("https://x/b.CSV",), ("https://x/p/001",),
            ("https://x/c.html?q=1",), ("https://x/d.unknownext",)]
    df = spark.createDataFrame(urls, "url string")
    got = [r["source_type"] for r in df.select(source_type_expr()).collect()]
    assert got == ["PDF", "CSV", "HTML", "HTML", "HTML"]


def test_source_type_expr_uses_no_deprecated_api(spark):
    """The extension lookup indexes the map column directly: a Column key
    to ``getItem`` is deprecated and warns on every build of the
    expression."""
    with warnings.catch_warnings():
        warnings.simplefilter("error", FutureWarning)
        source_type_expr()


def test_chunk_point_roundtrip(spark, webtext_sf0001_path):
    from super_rag_spark.segmentation import segment

    chunks = segment(spark.read.parquet(webtext_sf0001_path).limit(30)).cache()
    back = points_to_chunks(chunks_to_points(chunks))
    cols = ["chunk_id", "doc_id", "url", "chunk_index", "title", "content",
            "token_count"]
    orig = sorted(tuple(r) for r in chunks.select(*cols).collect())
    rt = sorted(tuple(r) for r in back.select(*cols).collect())
    assert orig == rt


def test_try_cast_coercion_guards(spark):
    pts = spark.createDataFrame(
        [("c1", {"chunk_id": "c1", "document_id": "notanint",
                 "chunk_index": "7", "token_count": ""})],
        "id string, payload map<string,string>")
    row = points_to_chunks(pts).collect()[0]
    assert row["doc_id"] is None  # isdigit-guard analog
    assert row["chunk_index"] == 7
    assert row["token_count"] is None


def test_interpreter_gating_and_code_block(spark):
    """P5 structured-filetype predicate + F10 code-block regex (Spark
    expr == Python mirror == reference semantics)."""
    from pyspark.sql import functions as F

    from super_rag_spark.points import (code_block_expr, extract_code_block,
                                        route_interpreter)

    rows = [
        ("https://a/data.csv", "q1"),
        ("https://a/book.xlsx", "q2"),
        ("https://a/feed.json", "q3"),
        ("https://a/page.html", "q4"),
        ("https://a/doc.pdf", "q5"),
    ]
    df = spark.createDataFrame(rows, "url string, content string")
    flags = {r["url"].rsplit(".", 1)[1]: r["use_interpreter"]
             for r in route_interpreter(df, interpreter_mode=True).collect()}
    assert flags == {"csv": True, "xlsx": True, "json": True,
                     "html": False, "pdf": False}
    off = route_interpreter(df, interpreter_mode=False).collect()
    assert not any(r["use_interpreter"] for r in off)

    texts = [
        "x\n```python\nprint(1)\nprint(2)\n```\ntail",
        "```\nplain fence\n```",
        "no fence at all",
    ]
    want = [extract_code_block(t) for t in texts]
    assert want[0] == "print(1)\nprint(2)" and want[1] == "plain fence" and want[2] == ""
    got = [r["c"] for r in
           spark.createDataFrame([(t,) for t in texts], "content string")
           .select(code_block_expr("content").alias("c")).collect()]
    assert got == want
