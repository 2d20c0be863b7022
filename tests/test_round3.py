"""Round-3 regression tests: asof_join determinism + merge (skew) variant,
nullable-html extraction, C-level binary metadata, CC round fusion."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from scalemine_spark.operators.joins import asof_join, asof_join_merge


def _asof_fixture(spark, n_keys=5, n_left=60, n_right=90):
    left = spark.range(n_left).select(
        (F.col("id") % n_keys).alias("k"),
        (F.col("id") * 7 % 100).cast("long").alias("t"),
        F.col("id").alias("tag"),
    )
    right = spark.range(n_right).select(
        (F.col("id") % n_keys).alias("k"),
        (F.col("id") * 11 % 97).cast("long").alias("t"),
        (F.col("id") * 3).alias("v"),
    )
    return left, right


@pytest.mark.parametrize("direction", ["backward", "forward"])
def test_asof_merge_matches_rangejoin(spark, direction):
    """asof_join_merge is semantically identical to asof_join, including
    right-ts tie-breaks (max/min of remaining right columns)."""
    left, right = _asof_fixture(spark)
    a = asof_join(left, right, on="k", left_ts="t", right_ts="t", direction=direction)
    b = asof_join_merge(left, right, on="k", left_ts="t", right_ts="t", direction=direction)
    key = lambda r: (r["k"], r["t"], r["tag"])  # noqa: E731
    ra = sorted(([r[c] for c in a.columns] for r in a.collect()), key=lambda x: x[:3])
    rb = sorted(([r[c] for c in b.columns] for r in b.collect()), key=lambda x: x[:3])
    assert a.columns == b.columns
    assert ra == rb


def test_asof_merge_skewed_key(spark):
    """One key holding 10^4 snapshots: the merge variant answers every probe
    with no conditional-join fan-out (plan has exactly one Window and only
    the O(L) join-back), and the answers are exact."""
    right = spark.range(10_000).select(
        F.lit(1).alias("k"), F.col("id").alias("t"), (F.col("id") * 2).alias("v")
    )
    left = spark.range(50).select(
        F.lit(1).alias("k"), (F.col("id") * 200 + 5).alias("t")
    )
    out = asof_join_merge(left, right, on="k", left_ts="t", right_ts="t")
    got = {r["t"]: (r["r_t"], r["r_v"]) for r in out.collect()}
    assert len(got) == 50
    for probe_t, (rt, rv) in got.items():
        assert rt == probe_t  # snapshots at every integer -> exact hit
        assert rv == 2 * rt

    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Window") >= 1
    # no range/theta join anywhere: the only join is the equi join-back on the
    # left-row tag (conditional-join fan-out for 10^4 snapshots would plan a
    # join with a non-equi condition)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_asof_left_rows_stable_after_shuffle(spark):
    """The left-row tag must be assigned once (materialized), not re-evaluated
    per branch: left sits atop a groupBy shuffle, and every input row must
    appear exactly once in the output."""
    base = spark.range(300).select(
        (F.col("id") % 7).alias("k"), (F.col("id") % 13).alias("t")
    )
    left = base.groupBy("k", "t").agg(F.count("*").alias("c"))
    n_left = left.count()
    right = spark.range(40).select(
        (F.col("id") % 7).alias("k"), F.col("id").alias("t"), F.col("id").alias("v")
    )
    for fn in (asof_join, asof_join_merge):
        out = fn(left, right, on="k", left_ts="t", right_ts="t")
        assert out.count() == n_left
        assert out.select("k", "t").distinct().count() == n_left


# ---------------------------------------------------------------------------
# nullable html through every extraction path
# ---------------------------------------------------------------------------

_HTML = b'<html><p>Hello</p><a href="https://b.com/x">x</a></html>'


def test_extract_batch_kernels_null_first():
    """A batch whose FIRST value is null must still decode the bytes rows
    (bytes-vs-str probe uses the first non-null), and the fused edge kernel
    must not crash on the NaN that findall yields for nulls."""
    from scalemine_spark.extract import _edges_batch, extract_hrefs_batch, extract_text_batch

    html = pd.Series([None, _HTML, b"<html>no links</html>"])
    text = extract_text_batch(html)
    assert list(text) == ["", "Hello", ""]
    hrefs = extract_hrefs_batch(html)
    assert hrefs[0] is None and list(hrefs[1]) == ["https://b.com/x"]

    pdf = pd.DataFrame({"url": ["https://a.com/1", "https://a.com/2", "https://a.com/3"],
                        "html": html})
    edges = _edges_batch(pdf)
    assert list(edges["src_url"]) == ["https://a.com/2"]
    assert list(edges["dst_url"]) == ["https://b.com/x"]


def test_extract_edges_nullable_html_end_to_end(spark):
    rows = [
        ("https://a.com/1", None),
        ("https://a.com/2", _HTML),
        ("https://a.com/3", bytearray(b"<html><a href='/rel'>r</a></html>")),
    ]
    pages = spark.createDataFrame(rows, "url string, html binary")
    from scalemine_spark.extract import extract_docs, extract_edge_urls

    pairs = {(r["src_url"], r["dst_url"]) for r in extract_edge_urls(pages).collect()}
    assert pairs == {
        ("https://a.com/2", "https://b.com/x"),
        ("https://a.com/3", "https://a.com/rel"),
    }
    docs = {r["url"]: (r["text"], r["hrefs"]) for r in extract_docs(pages).collect()}
    assert docs["https://a.com/1"] == ("", None)
    assert docs["https://a.com/2"] == ("Hello", ["https://b.com/x"])


# ---------------------------------------------------------------------------
# binary metadata: C-level kernels, null payloads
# ---------------------------------------------------------------------------


def test_binary_metadata_values_and_nulls(spark):
    from scalemine_spark.functions.multimodal import binary_metadata

    rows = [(1, b"\x89PNG\r\n"), (2, b"ab"), (3, None), (4, b"")]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {r["doc_id"]: (r["n_bytes"], r["magic_hex"]) for r in binary_metadata(df).collect()}
    assert got[1] == (6, b"\x89PNG".hex())
    assert got[2] == (2, "6162")
    assert got[3] == (None, None)
    assert got[4] == (0, "")
