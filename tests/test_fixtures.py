"""The page fixtures: the generator's row-range slicing, the
distributed generator's chunk protocol, and generated text against the
pinned extractor."""

from __future__ import annotations

import pandas as pd


def test_generate_pages_row_range_slices_are_byte_identical():
    from oscar_spark.fixtures.pages import generate_pages
    full = generate_pages(500, seed=43, start_index=1000)
    parts = [generate_pages(500, seed=43, start_index=1000,
                            row_range=(lo, min(lo + 137, 500)))
             for lo in range(0, 500, 137)]
    stitched = pd.concat(parts, ignore_index=True)
    pd.testing.assert_frame_equal(stitched, full)


def test_pages_spark_df_dist_subsplit_matches_chunk_protocol(spark):
    """The sub-split distributed generator emits exactly the rows of the
    pinned chunked protocol (chunk ci = seed 42+ci), bytes included."""
    from oscar_spark.fixtures.pages import generate_pages, pages_spark_df_dist
    n, chunk = 250, 100
    got = (pages_spark_df_dist(spark, n, chunk=chunk)
           .toPandas().sort_values("url").reset_index(drop=True))
    want = pd.concat(
        [generate_pages(min(chunk, n - start), seed=42 + ci,
                        start_index=start)
         for ci, start in enumerate(range(0, n, chunk))],
        ignore_index=True).sort_values("url").reset_index(drop=True)
    assert len(got) == n
    pd.testing.assert_frame_equal(got, want)


def test_generate_pages_text_matches_extract():
    """The r06 direct text construction (title title paras [tail text])
    is byte-identical to extract_text(html) for every generated page —
    including the 1% corrupted rows (invalid UTF-8 + unclosed tag)."""
    from oscar_spark.fixtures.pages import generate_pages
    from oscar_spark.functions.extract import extract_text
    df = generate_pages(4000, seed=42)
    n_corrupt = sum(1 for h in df.html if b"\xff" in h)
    assert n_corrupt > 0  # the corruption branch is exercised
    for h, t in zip(df.html, df.text):
        assert extract_text(h) == t
