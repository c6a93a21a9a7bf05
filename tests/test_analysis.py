import math

from super_rag_spark.analysis import (K1, B, bm25_term_score, doc_id_for_url,
                                      idf, salt_for_doc_id, tokenize)


def test_tokenize():
    assert tokenize("Hello, World! x2") == ["hello", "world", "x2"]
    assert tokenize("") == []
    assert tokenize("  a--b__c  ") == ["a", "b", "c"]  # _ is not [a-z0-9]


def test_doc_id_range_and_determinism():
    d = doc_id_for_url("https://site0.example/p/00000000")
    assert 0 <= d < 2**60
    assert d == doc_id_for_url("https://site0.example/p/00000000")


def test_salt_contiguous():
    # top-bit salting gives contiguous, ordered ranges
    ids = sorted(doc_id_for_url(f"u{i}") for i in range(1000))
    salts = [salt_for_doc_id(d) for d in ids]
    assert salts == sorted(salts)
    assert 0 <= min(salts) and max(salts) < 16


def test_bm25_hand_computed():
    # N=10, df=2, tf=3, dl=100, avgdl=80
    expect_idf = math.log((10 - 2 + 0.5) / (2 + 0.5) + 1)
    expect = expect_idf * (3 * (K1 + 1)) / (3 + K1 * (1 - B + B * 100 / 80))
    assert abs(bm25_term_score(3, 100, 80.0, 10, 2) - expect) < 1e-15
    assert idf(10, 2) == expect_idf
    # idf positive even for df == N
    assert idf(10, 10) > 0


def test_spark_doc_id_expr_matches_python(spark):
    from super_rag_spark.index.build import doc_id_expr

    urls = [f"https://site{i}.example/p/{i:08d}" for i in range(50)]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    got = {r["url"]: r["doc_id"] for r in df.select("url", doc_id_expr().alias("doc_id")).collect()}
    for u in urls:
        assert got[u] == doc_id_for_url(u)


def test_spark_tokens_expr_matches_python(spark):
    from super_rag_spark.index.build import tokens_expr

    texts = ["Hello, World! x2", "", "  a--b  ", "Ümlaut straße 42", "a\nb\tc"]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    got = [r["toks"] for r in df.select(tokens_expr().alias("toks")).collect()]
    assert got == [tokenize(t) for t in texts]


def test_bm25_kernels_agree_bit_for_bit(spark):
    """The scalar reference, the NumPy kernel and the Catalyst mirror
    give the same floats over a (N, df, tf, dl) grid, including df
    values where np.log and math.log differ."""
    import numpy as np

    from super_rag_spark.query.scoring import contribution_expr
    from super_rag_spark.query.wand import bm25_contrib

    avgdl = 123.456
    cells = []
    for n in (37, 5000, 1_000_003):
        dfs = sorted({1, 2, n // 2, n - 1, n} | set(range(1, n + 1, max(1, n // 40))))
        ulp = [df for df in range(1, min(n, 5000) + 1)
               if np.log((n - df + 0.5) / (df + 0.5) + 1.0) != idf(n, df)]
        if n == 5000:
            assert ulp  # the grid must exercise the differing logs
        for df in dfs + ulp[:40]:
            for tf in (1, 2, 3, 7, 50):
                for dl in (1, 17, 100, 999):
                    cells.append((n, df, tf, dl))
    numpy_kernel = {
        c: float(bm25_contrib(idf(c[0], c[1]), [c[2]], [c[3]], avgdl)[0])
        for c in cells}
    frame = spark.createDataFrame(
        [(i, idf(n, df), tf, dl) for i, (n, df, tf, dl) in enumerate(cells)],
        "i int, idf double, tf int, dl int")
    catalyst = {cells[r["i"]]: r["c"] for r in frame.select(
        "i", contribution_expr(avgdl, K1, B).alias("c")).collect()}
    for c in cells:
        want = bm25_term_score(c[2], c[3], avgdl, c[0], c[1])
        assert numpy_kernel[c] == want, c
        assert catalyst[c] == want, c


def test_term_id_matches_spark_xxhash64(spark):
    """analysis.xxh64 / term_id_for against the JVM's xxhash64 over
    every XXH64 length class (0, 1-3, 4-7, 8-31, 32, >32 bytes) and
    multi-byte UTF-8."""
    from pyspark.sql import functions as F

    from super_rag_spark.analysis import term_id_for

    terms = ["", "a", "ab", "abc", "abcd", "abcdefg", "abcdefgh",
             "semudo", "x" * 31, "y" * 32, "z" * 33, "w" * 63, "v" * 64,
             "u" * 100, "é", "ñu", "straße", "日本語", "😀", "α" * 16,
             "naïve café " * 5, "Ümlaut straße 42"]
    lengths = {len(t.encode("utf-8")) for t in terms}
    assert {0, 32} <= lengths
    for lo, hi in ((1, 3), (4, 7), (8, 31), (33, 1 << 20)):
        assert any(lo <= n <= hi for n in lengths)
    row = spark.range(1).select(
        *[F.xxhash64(F.lit(t)).alias(f"h{i}") for i, t in enumerate(terms)]
    ).collect()[0]
    for i, t in enumerate(terms):
        assert row[f"h{i}"] == term_id_for(t), t
