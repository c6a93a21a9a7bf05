import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from super_rag_spark.fixtures import generate_queries, generate_webtext  # noqa: E402

FIXTURE_DIR = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".fixtures")


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[4]")
        .appName("super-rag-spark-tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        .config("spark.task.maxFailures", "4")
        .getOrCreate()
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def webtext_sf0001_path() -> str:
    return generate_webtext(0.001, FIXTURE_DIR)


@pytest.fixture(scope="session")
def queries100() -> list[dict]:
    return generate_queries()


@pytest.fixture(scope="session")
def webtext_rows(webtext_sf0001_path):
    import pyarrow.parquet as pq

    tbl = pq.read_table(webtext_sf0001_path)
    return tbl.to_pylist()


@pytest.fixture(scope="session")
def oracle_index(webtext_rows):
    from super_rag_spark.oracle import build_oracle

    return build_oracle((r["url"], r["text"]) for r in webtext_rows)


@pytest.fixture
def assert_same_index(spark):
    """Check an index written by merge_append against a fresh build of
    the same live corpus: the layout-free facts right after the segment
    append (n_docs, avgdl, term_stats, exact top-k scores), then
    block-for-block and term_stats identity once compact_index has
    folded the segments back to seg=0."""
    from super_rag_spark.index.merge import compact_index
    from super_rag_spark.query.engine import BM25Engine

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    def check(got, want, queries):
        got = BM25Engine(spark, got.store.root)  # fresh manifest cache
        assert got.manifest["n_docs"] == want.manifest["n_docs"]
        assert got.manifest["avgdl"] == pytest.approx(want.manifest["avgdl"],
                                                      rel=1e-12)
        assert rows(got.store.term_stats(spark)) == rows(want.store.term_stats(spark))
        for q in queries:
            assert got.topk(q, 10) == want.topk(q, 10), q
        compact_index(spark, got.store.root)
        assert rows(got.store.postings(spark)) == rows(want.store.postings(spark))
        assert rows(got.store.term_stats(spark)) == rows(want.store.term_stats(spark))

    return check


@pytest.fixture(scope="session")
def bucket_bytes():
    """{bucket dir name: sorted file bytes} of a bucket-partitioned
    table dir, to compare two writers' files byte for byte."""
    def read(table_dir):
        out = {}
        for b in sorted(os.listdir(table_dir)):
            if b.startswith("bucket="):
                d = os.path.join(table_dir, b)
                out[b] = sorted(open(os.path.join(d, f), "rb").read()
                                for f in os.listdir(d) if f.endswith(".parquet"))
        return out

    return read


@pytest.fixture(scope="session")
def built_index(spark, webtext_sf0001_path, tmp_path_factory):
    """Index over sf0.001 built from the html column (full pipeline),
    with a low salt threshold so the head-term salting path is exercised."""
    from super_rag_spark.query.engine import BM25Engine

    index_dir = str(tmp_path_factory.mktemp("index") / "sf0001")
    df = spark.read.parquet(webtext_sf0001_path)
    eng = BM25Engine(spark, index_dir)
    eng.build(df, text_is_extracted=False, salt_df_threshold=200, n_buckets=8)
    return eng
