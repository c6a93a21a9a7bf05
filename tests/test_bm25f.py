"""BM25F field weighting (build_index title_weight): the
field-concatenation form — title tokens counted W times in tf and dl,
one shared length normalization, df untouched.

Reference analog: super-rag has no sparse field weighting (dense
embeddings flatten fields); this is Lucene-style index-time field
boosting, checked against an independently-built weight-1 index over
the explicitly repeated text.
"""

import pytest
from pyspark.sql import functions as F

from super_rag_spark.extraction import extract_text, extract_text_title


def _topk_all(eng, queries, k=10):
    return {q: eng.topk(q, k) for q in queries}


def test_title_weight_equals_repeated_text(spark, tmp_path):
    """title_weight=2 == building over text with the title appended
    once more (the definition of field-concatenation weighting)."""
    from super_rag_spark.query.engine import BM25Engine

    rows = [
        ("https://w.example/1", "alpha beta beta gamma", "alpha"),
        ("https://w.example/2", "beta gamma delta", "delta delta"),
        ("https://w.example/3", "gamma gamma epsilon", ""),
    ]
    weighted = spark.createDataFrame(
        rows, "url string, text string, title string")
    eng_w = BM25Engine(spark, str(tmp_path / "wgt")).build(
        weighted, text_is_extracted=True, title_weight=2)

    manual = spark.createDataFrame(
        [(u, (t + " " + ti).strip()) for u, t, ti in rows],
        "url string, text string")
    eng_m = BM25Engine(spark, str(tmp_path / "man")).build(
        manual, text_is_extracted=True)

    assert eng_w.manifest["title_weight"] == 2
    assert eng_w.manifest["n_docs"] == eng_m.manifest["n_docs"]
    assert eng_w.manifest["avgdl"] == pytest.approx(eng_m.manifest["avgdl"])
    for q in ["alpha", "beta gamma", "delta", "epsilon alpha"]:
        assert _topk_all(eng_w, [q]) == _topk_all(eng_m, [q]), q


def test_title_weight_boosts_title_hits(spark, tmp_path):
    """Same term, same dl: the doc carrying it in the TITLE outranks
    the doc carrying it in the body once weighting is on — and they
    tie without it."""
    from super_rag_spark.query.engine import BM25Engine

    rows = [
        ("https://b.example/title", "filler one two three", "target"),
        ("https://b.example/body", "target one two three pad", ""),
    ]
    docs = spark.createDataFrame(rows, "url string, text string, title string")
    from super_rag_spark.index.build import doc_id_expr

    ids = {r["url"]: r["d"] for r in
           docs.select("url", doc_id_expr().alias("d")).collect()}

    flat = docs.select(
        "url", F.concat_ws(" ", "title", "text").alias("text"))
    eng_flat = BM25Engine(spark, str(tmp_path / "flat")).build(
        flat, text_is_extracted=True)
    flat_hits = dict(eng_flat.topk("target", 5))
    assert flat_hits[ids["https://b.example/title"]] == pytest.approx(
        flat_hits[ids["https://b.example/body"]])

    eng_w = BM25Engine(spark, str(tmp_path / "wgt2")).build(
        docs, text_is_extracted=True, title_weight=3)
    hits = eng_w.topk("target", 5)
    assert hits[0][0] == ids["https://b.example/title"]
    assert hits[0][1] > hits[1][1]


def test_title_weight_html_path_and_extraction_invariant(spark, tmp_path):
    """HTML builds pull the title field from the parse; the flat text
    projection stays byte-identical to the unweighted extractor (the
    north-rule per-url invariant is never perturbed)."""
    from super_rag_spark.query.engine import BM25Engine

    html_rows = [
        ("https://h.example/1",
         b"<html><head><title>quarks</title></head>"
         b"<body><p>lattice field theory</p></body></html>"),
        ("https://h.example/2",
         b"<html><head><title>poetry</title></head>"
         b"<body><p>quarks appear here in prose text</p></body></html>"),
    ]
    docs = spark.createDataFrame(html_rows, "url string, html binary")

    with_title = {u: extract_text_title(h) for u, h in html_rows}
    for u, h in html_rows:
        assert with_title[u][0] == extract_text(h)  # byte-identical text
    assert with_title["https://h.example/1"][1] == "quarks"

    eng = BM25Engine(spark, str(tmp_path / "hidx")).build(
        docs, text_is_extracted=False, title_weight=2)
    from super_rag_spark.analysis import doc_id_for_url

    hits = eng.topk("quarks", 5)
    assert hits[0][0] == doc_id_for_url("https://h.example/1")


def test_title_weight_validation(spark, tmp_path):
    from super_rag_spark.index.build import build_index

    docs = spark.createDataFrame(
        [("https://v.example/1", "alpha")], "url string, text string")
    with pytest.raises(ValueError, match="title"):
        build_index(spark, docs, str(tmp_path / "v1"), title_weight=2)
    with pytest.raises(ValueError, match=">= 1"):
        build_index(spark, docs, str(tmp_path / "v2"), title_weight=0)
    with pytest.raises(ValueError, match="extract_mode"):
        build_index(spark, docs, str(tmp_path / "v3"),
                    text_is_extracted=False, extract_mode="any",
                    title_weight=2)
