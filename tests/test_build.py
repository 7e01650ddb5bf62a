"""Build-stage shape: the jobs a build runs, how its dictionary files are
written, and the range partitioning behind doc ids and the mirrors."""

from __future__ import annotations

import glob
import os
import re
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F


def spark_jobs(spark, fn):
    """fn()'s result and the Spark jobs submitted while it ran, found by
    submission time in the status store: jobs that helper threads and
    adaptive execution submit carry no job group.  The session's
    background worker prewarm/keepalive jobs are left out."""
    jsc = spark.sparkContext._jsc.sc()
    start = time.time() * 1000
    out = fn()
    end = time.time() * 1000
    jsc.listenerBus().waitUntilEmpty()
    seq = jsc.statusStore().jobsList(None)
    jobs = []
    for i in range(seq.size()):
        job = seq.apply(i)
        sub = job.submissionTime()
        if not sub.isDefined() or not start <= sub.get().getTime() <= end:
            continue
        desc = job.description()
        if desc.isDefined() and "python-worker" in desc.get():
            continue
        jobs.append(job)
    return out, jobs


@pytest.fixture(scope="module")
def file_build(spark, tmp_path_factory):
    """A 400-page build from two parquet files, as a crawl drop arrives."""
    from oscar_spark.build.indexer import build_index
    from oscar_spark.fixtures.pages import generate_pages
    tmp = tmp_path_factory.mktemp("jobs")
    pdf = generate_pages(400)
    pdf["warc_ts"] = pdf["warc_ts"].astype("datetime64[us]")
    for i, part in enumerate((pdf.iloc[:200], pdf.iloc[200:])):
        pq.write_table(pa.Table.from_pandas(part, preserve_index=False),
                       str(tmp / f"part-{i}.parquet"))
    d = str(tmp / "idx")
    pages = spark.read.parquet(str(tmp / "part-*.parquet"))
    res, jobs = spark_jobs(spark, lambda: build_index(spark, pages, d))
    return d, res, jobs


def test_build_job_budget(file_build):
    """A build spends its jobs on data: at most 18 (tokens 1, doc_stats
    5, postings 4, terms 8).  A check, cache, sample or schema read
    with a job of its own pushes it over."""
    _, res, jobs = file_build
    assert res.n_docs == 400
    assert len(jobs) <= 18, [j.name() for j in jobs]


def test_terms_write_runs_many_tasks(file_build):
    """The dictionary's bucket files come from several write tasks, not
    one task writing every bucket in turn (a part file's number is its
    writing task's partition)."""
    d, _, _ = file_build
    files = glob.glob(os.path.join(d, "terms", "seg=base", "bucket=*",
                                   "*.parquet"))
    buckets = {os.path.basename(os.path.dirname(f)) for f in files}
    assert len(files) == len(buckets) == 16  # one file per bucket
    parts = {re.match(r"part-(\d+)", os.path.basename(f)).group(1)
             for f in files}
    assert len(parts) > 1


def test_mirror_files_cover_disjoint_sorted_ranges(file_build):
    """Each wildcard-mirror file holds one key range, sorted, and the
    ranges do not overlap, so parquet min/max prunes whole files."""
    d, res, _ = file_build
    for table, key in (("terms_rev", "rev"), ("terms_ngram", "gram")):
        ranges = []
        for f in glob.glob(os.path.join(d, table, "seg=base", "*.parquet")):
            col = pq.read_table(f, columns=[key]).column(key).to_pylist()
            assert col == sorted(col)
            if col:
                ranges.append((col[0], col[-1]))
        ranges.sort()
        assert len(ranges) > 1
        assert all(a[1] < b[0] for a, b in zip(ranges, ranges[1:])), table
    rev = pq.read_table(os.path.join(d, "terms_rev"))
    assert rev.num_rows == res.n_terms


def test_partition_keys_route_to_their_partition(spark):
    from oscar_spark.functions.spark_hash import partition_keys
    for n in (1, 3, 8, 16):
        keys = partition_keys(n)
        df = spark.createDataFrame([(k,) for k in keys], "k int")
        got = {(r["k"], r["p"]) for r in df.repartition(n, "k").select(
            "k", F.spark_partition_id().alias("p")).collect()}
        assert got == {(k, i) for i, k in enumerate(keys)}


def test_range_index_matches_sorted_order(spark):
    """The SQL range tree puts every key in the range the sorted sample
    cuts, for a mixed-direction two-column order and for string keys
    that need escaping."""
    from oscar_spark.build.ranges import range_bounds, range_index
    urls = ["a", "b'c", "b\\d", "é", "b", "z\\'", "it's", ""]
    rows = [(float(q), u) for q in (1.0, 2.5, 2.5, 7.0) for u in urls]
    order = [("quality", False), ("url", True)]
    for n in (1, 2, 5, 32):
        bounds = range_bounds(rows, n, order)
        df = spark.createDataFrame(rows, "quality double, url string")
        got = {(r["quality"], r["url"]): r["i"] for r in df.select(
            "quality", "url",
            range_index(order, bounds).alias("i")).collect()}
        srt = sorted(rows, key=lambda r: (-r[0], r[1]))
        want, i = {}, 0
        for r in srt:
            while i < len(bounds) and (-r[0], r[1]) > (-bounds[i][0],
                                                       bounds[i][1]):
                i += 1
            want[r] = i
        assert got == want, n


def test_second_engine_open_runs_no_jobs(spark, file_build):
    """Every committed table is read with its known schema, so opening
    an engine runs no schema-inference job: once the first engine has
    preloaded the dictionary, a second one over the same store runs
    zero Spark jobs."""
    from oscar_spark.serve.executor import SearchEngine
    d, _, _ = file_build
    SearchEngine(spark, d)
    eng, jobs = spark_jobs(spark, lambda: SearchEngine(spark, d))
    assert jobs == [], [j.name() for j in jobs]
    assert eng.n_docs == 400


# ---- ADVICE: duplicate normalized field keys fail fast at build ----

def test_build_rejects_colliding_field_keys(spark, tmp_path):
    from oscar_spark.build.indexer import build_index
    from oscar_spark.fixtures.pages import pages_spark_df
    p = pages_spark_df(spark, 20)
    pages = p.withColumn("Lang", p["lang"])
    with pytest.raises(ValueError, match="field"):
        build_index(spark, pages, str(tmp_path / "i1"),
                    fields=("lang", "Lang"))
    with pytest.raises(ValueError, match="field"):
        build_index(spark, pages_spark_df(spark, 20),
                    str(tmp_path / "i2"), fields=("-", "lang"))
