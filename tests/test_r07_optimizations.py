"""Focused tests for the round-7 optimization rewrites.

Each test pins an internals change to the behavior it must preserve:
window-based LSH candidate generation (vs the r6 agg+join-back shape),
the multi-selector tf_postings decode, the single-scan extraction path
for opaque Python sources, and the bounded semantic-hash cache pool.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _reference_bucket_pairs(buckets, max_bucket, new_after=None):
    """The r6 shape: per-bucket meta via groupBy + join-back."""
    meta = buckets.groupBy("band", "bucket").agg(
        F.count(F.lit(1)).alias("n_in_bucket"), F.min("doc_id").alias("min_doc")
    )
    bk = buckets.join(meta, ["band", "bucket"])
    if new_after is not None:
        bk = bk.withColumn("is_new", F.col("doc_id") > F.lit(new_after))
    small = bk.filter(F.col("n_in_bucket") <= max_bucket)
    a_side = small.filter("is_new") if new_after is not None else small
    a = a_side.select("band", "bucket", F.col("doc_id").alias("x"))
    b = small.select("band", "bucket", F.col("doc_id").alias("y"))
    pairs_small = (
        a.join(b, ["band", "bucket"])
        .filter(F.col("x") != F.col("y"))
        .select(F.least("x", "y").alias("a"), F.greatest("x", "y").alias("b"))
    )
    star = bk.filter(
        (F.col("n_in_bucket") > max_bucket) & (F.col("doc_id") > F.col("min_doc"))
    )
    if new_after is not None:
        star = star.filter("is_new")
    pairs_star = star.select(F.col("min_doc").alias("a"), F.col("doc_id").alias("b"))
    return pairs_small.unionByName(pairs_star).distinct()


def _membership(spark):
    # hand-built membership with small, exactly-cap, degenerate and
    # mixed-old/new buckets (cap = 3 below)
    rows = []
    rows += [(d, 0, "b_small") for d in (1, 2)]
    rows += [(d, 0, "b_cap") for d in (3, 4, 5)]
    rows += [(d, 0, "b_degen") for d in (6, 7, 8, 9, 10, 11)]
    rows += [(d, 1, "b_mixed") for d in (2, 9, 12)]
    rows += [(13, 1, "b_solo")]
    return spark.createDataFrame(rows, "doc_id long, band int, bucket string")


def test_bucket_pairs_matches_reference_shape(spark):
    from es_loaders_spark.dedup import _bucket_pairs

    m = _membership(spark)
    for new_after in (None, 8):
        got = {(r.a, r.b) for r in _bucket_pairs(m, 3, new_after=new_after).collect()}
        want = {
            (r.a, r.b)
            for r in _reference_bucket_pairs(m, 3, new_after=new_after).collect()
        }
        assert got == want, (new_after, got ^ want)
    # degenerate bucket is star-capped: O(n) pairs through min doc 6
    full = {(r.a, r.b) for r in _bucket_pairs(m, 3).collect()}
    assert (6, 7) in full and (7, 8) not in full


def test_lsh_candidates_window_shape(spark, sf_dir, docs):
    """Bucket size/canonical-min come from WINDOW functions over the
    membership rows — the r6 shape's separate meta aggregate joined back
    on (band, bucket) is gone (no join keyed on the bucket columns
    against an aggregated side), and results are unchanged (the
    equivalence is pinned by test_bucket_pairs_matches_reference_shape
    and the oracle rows)."""
    from es_loaders_spark.dedup import minhash_signatures, _lsh_candidates

    sig = minhash_signatures(docs.limit(200))
    plan = _lsh_candidates(sig, 32, 8, portable=False, max_bucket=64)
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        plan.explain("formatted")
    s = buf.getvalue()
    assert "Window" in s
    # exactly one aggregation in the whole candidate plan: the final
    # pair-distinct's partial+final pair (the r6 shape had a second
    # HashAggregate pair for the per-bucket meta relation)
    import re

    n_agg = len(re.findall(r"\(\d+\) HashAggregate", s))
    assert n_agg <= 2, s


def test_tf_postings_multi_selector_equals_union(spark, docs, tmp_path_factory):
    from es_loaders_spark.build import build_index
    from es_loaders_spark.phrase import tf_postings

    idx = str(tmp_path_factory.mktemp("idx_r07") / "i1")
    build_index(spark, docs.limit(800), idx, n_shards=4, positions=False)

    terms = ["spark", "data"]
    combined = tf_postings(
        spark, idx, terms=terms, prefixes=["batc"], like_patterns=["ke_"]
    )
    got = {(r.term, r.doc_id, r.tf) for r in combined.collect()}
    want = set()
    for kw in (dict(terms=terms), dict(prefixes=["batc"]),
               dict(like_patterns=["ke_"])):
        want |= {(r.term, r.doc_id, r.tf) for r in tf_postings(spark, idx, **kw).collect()}
    assert got == want and got


def test_extraction_single_scan_matches_split(spark):
    """Opaque-source inputs take the single-scan CASE path; outputs must
    be byte-identical to the split path on the same rows."""
    import pandas as pd

    from es_loaders_spark.extract import (
        extract_text_bytes, with_extracted_text, _has_python_source,
    )

    htmls = [
        b"<html><body>plain text here</body></html>",
        b"<html><body>&amp;lt; escaped &quot;x&quot;</body></html>",
        b"<html><body>num &#65;&#x42; refs</body></html>",
        b"<html><!--<body>fake</body>--><body>real &#38;lt; body</body></html>",
    ]

    def gen(batches):
        for pdf in batches:
            yield pd.DataFrame({"row_id": pdf["id"], "html": [htmls[int(i) % len(htmls)] for i in pdf["id"]]})

    opaque = spark.range(8).mapInPandas(gen, "row_id long, html binary")
    assert _has_python_source(opaque)
    got = {r.row_id: r.text for r in with_extracted_text(opaque).collect()}
    for rid, text in got.items():
        assert text == extract_text_bytes(htmls[rid % len(htmls)]).decode("utf-8")

    table = spark.createDataFrame(
        [(i, htmls[i % len(htmls)]) for i in range(8)], "row_id long, html binary"
    )
    # local/table relation: split path (no opaque python node)
    assert not _has_python_source(table)
    got2 = {r.row_id: r.text for r in with_extracted_text(table).collect()}
    assert got2 == got


def test_python_source_check_reads_plan_nodes_not_names(spark, tmp_path):
    """A table-backed frame whose column name or literal spells an opaque
    node name is not opaque; a Python node under other operators is."""
    import pandas as pd
    from pyspark.sql import functions as F

    from es_loaders_spark.extract import _has_python_source

    path = str(tmp_path / "t")
    spark.range(4).write.parquet(path)
    table = spark.read.parquet(path)
    assert not _has_python_source(table.withColumn("MapInPandas", F.lit(1)))
    assert not _has_python_source(table.select(F.lit("MapInArrow").alias("x")))

    def ident(batches):
        yield from (pd.DataFrame({"id": b["id"]}) for b in batches)

    nested = table.mapInPandas(ident, "id long").filter("id > 0").join(table, "id")
    assert _has_python_source(nested)


def test_tracked_persist_pool_dedupes_and_caps(spark, docs):
    from es_loaders_spark import postings

    postings.release_scoring_caches()
    a = postings._persist_tracked(docs.select("doc_id"))
    n1 = len(postings._TRACKED_PERSISTS)
    # identical plan re-registers (no duplicate entry, stays cached)
    b = postings._persist_tracked(docs.select("doc_id"))
    assert len(postings._TRACKED_PERSISTS) == n1
    assert b.storageLevel.useMemory or a.storageLevel.useMemory
    # distinct plans add entries; the cap bounds the pool
    for i in range(postings._MAX_TRACKED + 3):
        postings._persist_tracked(docs.select("doc_id").filter(F.col("doc_id") > i))
    assert len(postings._TRACKED_PERSISTS) <= postings._MAX_TRACKED
    postings.release_scoring_caches()
    assert not postings._TRACKED_PERSISTS
