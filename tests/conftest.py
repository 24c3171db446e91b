import os

import duckdb
import pytest

TESTDATA = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from bitfunnel_spark.session import get_spark

    # get_spark's 48g heap default lets the session JVM grow past the
    # memory of a small test box until the OOM killer ends the run; the
    # CLI tests' child JVMs inherit the bound
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "6g")
    s = get_spark("bitfunnel-tests", cores=8, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in [
        "region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings",
    ]:
        path = f"{TESTDATA}/{t}.parquet"
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    yield con
    con.close()


@pytest.fixture(scope="session")
def corpus(spark):
    from bitfunnel_spark.sources.corpus import corpus_from_documents, load_documents

    return corpus_from_documents(load_documents(spark, TESTDATA)).cache()


@pytest.fixture(scope="session")
def index(spark, corpus):
    from bitfunnel_spark import BuildConfig, FullTextIndex

    return FullTextIndex.build(spark, corpus, BuildConfig(n_slices=4))


@pytest.fixture(scope="session")
def unpartitioned_windows():
    """Counts the Window operators without a partition spec in a frame's
    executed plan. Spark prints one as ``Window [exprs], [order]`` and a
    partitioned one as ``Window [exprs], [partition], [order]``; the first
    kind moves every row into a single partition."""

    def count(df) -> int:
        n = 0
        for line in df._jdf.queryExecution().executedPlan().toString().splitlines():
            _, found, rest = line.partition("Window [")
            if not found:
                continue
            depth, groups = 1, 1
            for ch in rest:
                if ch == "[":
                    groups += depth == 0
                    depth += 1
                elif ch == "]":
                    depth -= 1
            n += groups == 2
        return n

    return count
