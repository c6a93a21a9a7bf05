import math

from super_rag_spark.analysis import (K1, B, bm25_term_score, doc_id_for_url,
                                      idf, salt_for_doc_id, term_id_for,
                                      term_ids, tokenize)


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


# Characters whose case mapping or class could split the two
# tokenizers: dotted capital I (lowercases to i + a combining dot), the
# Kelvin sign (lowercases to ASCII k), sharp s in both cases, final and
# capital sigma, combining marks, fullwidth digits and letters, NBSP,
# emoji (a surrogate pair in the JVM) and a zero-width joiner.
_TRICKY = ("İ", "\u212a", "ß", "ẞ", "ς", "Σ", "\u0301", "\u0307", "０", "９",
           "Ａ", "\u00a0", "😀", "\u200d")


def _tricky_texts():
    from hypothesis import strategies as st

    chunk = st.one_of(
        st.sampled_from(_TRICKY),
        st.text(alphabet="abcXYZ019 -_.,\n\t", max_size=6),
        st.text(alphabet="aZ9", min_size=33, max_size=80),  # > 32 bytes
        st.text(max_size=4))
    return st.lists(chunk, max_size=12).map("".join)


def _tricky_corpus(n: int, seed: int) -> list[str]:
    import random

    rng = random.Random(seed)
    parts = list(_TRICKY) + ["Straße", "KELVIN", "Σίσυφος", "word", "x" * 40,
                             "İstanbul", "café", "12", " ", "\n", "-"]
    return [" ".join(rng.choice(parts) + rng.choice(["", "a", "Q7"])
                     for _ in range(rng.randint(0, 30))) for _ in range(n)]


def test_spark_tokens_expr_matches_python(spark):
    """The JVM tokenizer (positions, vocab, snippets, sigterms) and
    analysis.tokenize (the postings' doc pass and the oracle) split
    every text alike: fixed cases, then generated strings mixing
    characters whose lowercasing or class is easy to get wrong."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from super_rag_spark.index.build import tokens_expr

    def same(texts):
        df = spark.createDataFrame([(t,) for t in texts], "text string")
        got = [r["toks"] for r in df.select(tokens_expr().alias("toks")).collect()]
        assert got == [tokenize(t) for t in texts]

    same(["Hello, World! x2", "", "  a--b  ", "Ümlaut straße 42", "a\nb\tc",
          "İi \u212a ß ẞ ΟΔΟΣ ς e\u0301 ０９ A\u00a0B 😀z " + "q" * 40])
    same(_tricky_corpus(200, 7))

    @settings(max_examples=25, deadline=None)
    @given(st.lists(_tricky_texts(), min_size=1, max_size=40))
    def generated(texts):
        same(texts)

    generated()


def test_tricky_text_positions_match_postings(spark, tmp_path):
    """A positions build of text full of such characters verifies
    clean: the JVM-tokenized positions sidecar holds exactly the
    postings' (term, doc) pairs, with one position per unit of tf."""
    from super_rag_spark.index.verify import verify_index
    from super_rag_spark.query.engine import BM25Engine

    texts = _tricky_corpus(120, 11)
    docs = spark.createDataFrame(
        [(f"https://t.example/{i}", t) for i, t in enumerate(texts)],
        "url string, text string")
    root = str(tmp_path / "idx")
    BM25Engine(spark, root).build(docs, positions=True, n_buckets=4)
    rep = verify_index(spark, root)
    assert not [e for e in rep["errors"] if "positions/postings" in e]
    assert rep["ok"], rep["errors"]
    assert rep["n_docs"] == len(texts)


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
    """analysis.xxh64 / term_id_for and the vectorized term_ids against
    the JVM's xxhash64 over every XXH64 length class (0, 1-3, 4-7, 8-31, 32, >32 bytes) and
    multi-byte UTF-8."""
    from pyspark.sql import functions as F

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
    assert term_ids(terms).tolist() == [row[f"h{i}"] for i in range(len(terms))]
    assert term_ids([]).tolist() == []


def test_term_ids_match_term_id_for(webtext_rows):
    """The vectorized term_ids equals term_id_for on strings of 0-40
    bytes (every 8-, 4- and 1-byte tail and the switch to the 32-byte
    path), on multi-byte UTF-8, and on one batch dictionary of the
    corpus fixture's tokens, whole and sliced."""
    import pyarrow as pa

    alnum = "abcdefghijklmnopqrstuvwxyz0123456789ABCDEFGHIJ"
    terms = [alnum[:n] for n in range(41)] + ["é" * n for n in range(21)]
    assert term_ids(terms).tolist() == [term_id_for(t) for t in terms]
    toks = [w for r in webtext_rows[:200] for w in tokenize(r["text"])]
    vocab = pa.array(toks, pa.string()).dictionary_encode().dictionary
    assert len(vocab) > 1000
    for arr in (vocab, vocab.slice(17, 500), vocab.cast(pa.large_string())):
        assert term_ids(arr).tolist() == [term_id_for(t) for t in arr.to_pylist()]


def _counted_by_tokenize(token_lists):
    """(doc, term_id, tf) rows and dl per doc of per-doc token lists."""
    from collections import Counter

    rows = sorted((i, term_id_for(t), c) for i, toks in enumerate(token_lists)
                  for t, c in Counter(toks).items())
    return rows, [len(t) for t in token_lists]


def _kernel_rows(docs, terms, tfs, dls):
    """A kernel's int64 arrays as _counted_by_tokenize's rows; its rows
    come in doc order."""
    for a in (docs, terms, tfs, dls):
        assert a.dtype.name == "int64"
    assert (docs[1:] >= docs[:-1]).all()
    return sorted(zip(docs.tolist(), terms.tolist(), tfs.tolist())), dls.tolist()


def _batch_docs():
    """Docs of one batch: None, empty, mixed ASCII and non-ASCII text,
    and alphanumeric edges so neighbouring docs could run together."""
    from hypothesis import strategies as st

    return st.one_of(st.none(), st.just(""), _tricky_texts(),
                     st.text(alphabet="aZ9", min_size=1, max_size=40))


def test_term_counts_match_tokenize():
    """analysis.term_counts (the doc pass's batch kernel) gives each doc
    the (term_id, tf) rows and the dl of analysis.tokenize, in doc
    order; with title weights 1 and 3, build._doc_counts gives
    the counts of build._doc_tokens."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from super_rag_spark.analysis import term_counts
    from super_rag_spark.index.build import _doc_counts, _doc_tokens

    def same(texts):
        got = _kernel_rows(*term_counts(texts))
        assert got == _counted_by_tokenize([tokenize(t or "") for t in texts])

    same([])
    same([None, "", "  "])
    same(["abc", "def", "9", "x" * 40, "Y", "İz", "\u212aa", "ßẞς", "１２ab",
          "a\u00a0b", "😀q", "end" + "é", "é" + "start", "ΟΔΟΣ\nΣa",
          "lone\ud800Surrogate"])
    same(_tricky_corpus(300, 5))

    @settings(max_examples=200, deadline=None)
    @given(st.lists(_batch_docs(), max_size=30))
    def generated(texts):
        same(texts)

    @settings(max_examples=100, deadline=None)
    @given(st.lists(st.tuples(_batch_docs(), _batch_docs()), max_size=20),
           st.sampled_from([1, 3]))
    def titled(pairs, tw):
        texts, titles = [t for t, _ in pairs], [ti for _, ti in pairs]
        got = _kernel_rows(*_doc_counts(texts, titles, tw))
        assert got == _counted_by_tokenize(
            [_doc_tokens(t, ti, tw) for t, ti in pairs])

    generated()
    titled()
