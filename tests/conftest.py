from __future__ import annotations

import pytest


@pytest.fixture(scope="session")
def spark():
    from oscar_spark.session import get_spark
    s = get_spark(app="oscar-spark-tests", cores=8, shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def pages_pdf():
    """t1-scale deterministic pages corpus (pandas)."""
    from oscar_spark.fixtures.pages import generate_pages
    return generate_pages(300)


@pytest.fixture(scope="session")
def pages_df(spark, pages_pdf):
    from oscar_spark.fixtures.pages import pages_spark_df
    return pages_spark_df(spark, 300).cache()


@pytest.fixture(scope="session")
def built_index(spark, pages_df, tmp_path_factory):
    """Build the index once for the whole session; returns (dir, result).

    Positional (positions=True) so quoted queries exercise TRUE phrase
    semantics against the oracle; the non-positional path keeps its own
    dedicated tests (and the bench builds without positions)."""
    from oscar_spark.build.indexer import build_index
    d = str(tmp_path_factory.mktemp("index"))
    res = build_index(spark, pages_df, d, positions=True)
    return d, res


@pytest.fixture(scope="session")
def oracle(spark, built_index):
    """OracleIndex keyed by the engine's own doc_id assignment."""
    from oscar_spark.oracle.engine import OracleIndex
    d, _ = built_index
    ds = {r["url"]: r["doc_id"]
          for r in spark.read.parquet(f"{d}/doc_stats").collect()}
    # pages via the same deterministic generator
    from oscar_spark.fixtures.pages import generate_pages
    pdf = generate_pages(300)
    docs = [(int(ds[u]), t) for u, t in zip(pdf["url"], pdf["text"])]
    assert len(docs) == 300
    return OracleIndex(docs)


@pytest.fixture(scope="session")
def fielded_index(spark, tmp_path_factory):
    """Positional + fielded (`lang`) index over 250 pages: (engine,
    matching oracle, doc id → lang).  Shared by the facet and phrase
    suites."""
    from oscar_spark.build.indexer import build_index
    from oscar_spark.fixtures.pages import generate_pages, pages_spark_df
    from oscar_spark.oracle.engine import OracleIndex
    from oscar_spark.serve.executor import SearchEngine
    from oscar_spark.sources.tables import IndexStore

    d = str(tmp_path_factory.mktemp("fielded"))
    build_index(spark, pages_spark_df(spark, 250), d,
                positions=True, fields=("lang",))
    pdf = generate_pages(250)
    ds = {r["url"]: r["doc_id"]
          for r in IndexStore(d).read(spark, "doc_stats").collect()}
    oracle = OracleIndex(
        [(int(ds[u]), t) for u, t in zip(pdf["url"], pdf["text"])],
        fields={int(ds[u]): {"lang": lg}
                for u, lg in zip(pdf["url"], pdf["lang"])})
    eng = SearchEngine(spark, d)
    doc_lang = {int(ds[u]): lg for u, lg in zip(pdf["url"], pdf["lang"])}
    return eng, oracle, doc_lang


@pytest.fixture(scope="session")
def no_tokens():
    """A check that a store keeps no tokens checkpoint: no data file
    under tokens/, and no tokens snapshot or segment in the manifest."""
    import glob
    import os

    from oscar_spark.sources.tables import IndexStore

    def check(d: str) -> None:
        store = IndexStore(d)
        assert not glob.glob(os.path.join(store.path("tokens"), "**",
                                          "*.parquet"), recursive=True)
        assert "tokens" not in store.manifest()["snapshots"]
        assert store.segments("tokens") == []
    return check
