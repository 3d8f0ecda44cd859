"""Physical-plan assertions: pushdown, pruning, broadcast — the 100 TB story.

A plan that reads all columns for a 2-column projection, or scans every
term row for a 3-term query, is wrong at scale even if results match.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F


def explain_str(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_parquet_filter_pushdown(spark, sf_dir):
    df = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .filter(F.col("l_quantity") < 10)
        .select("l_orderkey", "l_quantity")
    )
    plan = explain_str(df)
    assert "PushedFilters: [IsNotNull(l_quantity), LessThan(l_quantity,10.0)" in plan
    # column pruning: only the two projected columns in ReadSchema
    assert "l_extendedprice" not in plan.split("ReadSchema")[1].splitlines()[0]


def test_index_term_scan_is_pushed_down(spark, documents, tmp_path_factory):
    from es_loaders_spark.build import build_index

    d = str(tmp_path_factory.mktemp("plan_idx"))
    build_index(spark, documents, d, n_shards=2)
    scan = spark.read.parquet(f"{d}/shards").filter(F.col("term").isin(["spark", "data"]))
    plan = explain_str(scan)
    assert "PushedFilters: [In(term" in plan, plan


def test_small_dim_join_broadcasts(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    joined = li.join(F.broadcast(part), li.l_partkey == part.p_partkey).select(
        "l_orderkey", "p_brand"
    )
    plan = explain_str(joined)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_topk_uses_take_ordered(spark, sf_dir):
    df = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .orderBy(F.desc("o_totalprice"))
        .limit(10)
    )
    plan = explain_str(df)
    assert "TakeOrderedAndProject" in plan


def test_q1_uses_partial_aggregation(spark, sf_dir):
    from es_loaders_spark.queries import EXTRA_QUERIES, QUERIES

    # rotation-stable: the entry moves between the driver gate and the
    # local-gate EXTRA registry across rounds
    fn = QUERIES.get("groupby_sum_q1") or EXTRA_QUERIES["groupby_sum_q1"]
    plan = explain_str(fn(spark, sf_dir))
    # partial (map-side) + final hash aggregate pair, filter pushed to scan
    assert plan.count("HashAggregate") >= 2
    assert "partial_sum" in plan
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan


def test_scoring_scan_prunes_positions(spark, documents, tmp_path_factory):
    """The BM25 scoring paths must NOT read pos_payload (phrase-only
    bytes). Merged-table path: ``topk_merged``'s explicit column select
    reaches the ``merged/`` parquet ReadSchema. Serve path: the per-shard
    pyarrow read uses the explicit _SERVE_COLS list, which excludes
    pos_payload."""
    from es_loaders_spark.build import build_index
    from es_loaders_spark.merge import merge_index
    from es_loaders_spark.wand import _SERVE_COLS, topk_merged

    d = str(tmp_path_factory.mktemp("plan_pos_idx"))
    build_index(spark, documents, d, n_shards=2)
    merge_index(spark, d, n_salts=2, n_buckets=4)
    plan = explain_str(topk_merged(spark, d, "spark data", k=5))
    read_schemas = [
        line for line in plan.splitlines() if "ReadSchema" in line and "docs_payload" in line
    ]
    assert read_schemas, "expected an index scan with payload columns"
    for line in read_schemas:
        assert "pos_payload" not in line, line
    assert "pos_payload" not in _SERVE_COLS and "docs_payload" in _SERVE_COLS


def test_dedup_fingerprints_need_no_key_shuffle(spark, sf_dir):
    """MinHash signatures and SimHash fingerprints are row-local (array
    HOFs over the corpus scan): no hash/range Exchange anywhere — the
    100-TB property that lets them run at ingest with no keyed data
    movement. (A leading round-robin spread is permitted: it only fires
    when the scan has fewer splits than cores, a small-input artifact.)"""
    from es_loaders_spark.dedup import minhash_signatures, simhash

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    for df in (minhash_signatures(docs), simhash(docs)):
        plan = df._jdf.queryExecution().executedPlan().toString().lower()
        assert "hashpartitioning" not in plan, plan
        assert "rangepartitioning" not in plan, plan
    # and once the input is as parallel as the cluster, the plan is pure
    # map-only: zero Exchange of any kind
    import tempfile

    wide_dir = tempfile.mkdtemp(prefix="dedup_wide_")
    docs.repartition(spark.sparkContext.defaultParallelism).write.mode(
        "overwrite"
    ).parquet(wide_dir)
    wide = spark.read.parquet(wide_dir)
    for df in (minhash_signatures(wide), simhash(wide)):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan


def _plan_nodes(df, *needles: str) -> set[str]:
    """The distinct nodes of ``df``'s executed plan whose line holds
    every needle. A persisted relation prints under every scan that
    reads it, so the tree prefixes are stripped before the nodes are
    compared."""
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    return {
        re.sub(r"^[\s:+\-|*()0-9]*", "", line)
        for line in plan.splitlines() if all(n in line for n in needles)
    }


def _tokenize_nodes(df) -> set[str]:
    """The distinct nodes of ``df``'s executed plan that tokenize text."""
    return _plan_nodes(df, "split(lower(")


@pytest.mark.parametrize("query", [
    {"match": {"text": "spark data"}},
    {"function_score": {"query": {"match": {"text": "spark data"}},
                        "field_value_factor": {"field": "n_chars"}}},
    {"query_string": {"query": "spark~1 OR data"}},
    {"simple_query_string": {"query": 'spark "the data"'}},
    {"query_string": {"query": '"key order" OR spark'}},
    {"span_near": {"clauses": [{"span_term": {"text": "key"}},
                               {"span_term": {"text": "sort"}}],
                   "slop": 2, "in_order": True}},
])
def test_scan_scorer_tokenizes_once(spark, documents, query):
    """A scan-side scorer reads ONE query-scoped relation: a single
    tokenize projection over the docs scan feeds tf, dl, df, the corpus
    stats and the phrase words' positions. No Generate explodes the raw
    token array, so there is no full-vocabulary (term, doc_id) aggregate
    — only tokens a query term (or a fuzzy leaf's edit distance) selects
    are exploded."""
    from es_loaders_spark import dsl

    nodes = _tokenize_nodes(dsl.search(spark, documents, {"query": query}))
    assert len(nodes) == 1, nodes
    assert next(iter(nodes)).startswith("Project"), nodes


def test_query_string_phrases_share_one_positional_decode(
    spark, documents, tmp_path_factory
):
    """Index side: every phrase leaf of a query_string tree reads the
    one positions input, so the plan decodes positional postings once,
    however many phrase leaves the tree has."""
    from es_loaders_spark import dsl
    from es_loaders_spark.build import build_index

    d = str(tmp_path_factory.mktemp("plan_qs_phrases"))
    build_index(spark, documents, d, n_shards=2)
    body = {"query": {"query_string": {
        "query": '"the data" OR "key order" OR spark', "serve": "index"}}}
    df = dsl.search(spark, documents, body, index_dir=d)
    nodes = _plan_nodes(df, "MapInPandas", "positions#")
    assert len(nodes) == 1, nodes
