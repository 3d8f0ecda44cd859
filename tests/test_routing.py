"""ES document routing: build_index(routing_field=...) shards by the
routing key's portable hash; wand.topk(routing=...) / dsl.search(
routing=...) prune the search to those shards — the ES/Lucene
shard-targeting contract (a routed query at 10^12 docs touches one
shard's files, not n_shards of them).

Reference parity: ES ``?routing=`` on index/search (the loaders'
cluster exposes it on every index; utils/elasticsearch.py:42-56 is
where such index settings live).
"""
from __future__ import annotations

import glob
import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from es_loaders_spark import dsl
from es_loaders_spark.build import (
    append_documents,
    build_index,
    load_stats,
    routing_shard_id,
)
from es_loaders_spark.wand import evict_index, topk

Q = "spark query data table"


@pytest.fixture(scope="module")
def routed_idx(spark, documents, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("routed") / "idx")
    build_index(spark, documents, d, n_shards=8, routing_field="source")
    yield d
    evict_index(d)


def _routed_want(documents, full, value, n_shards=8, k=10):
    srcs = dict(documents.select("doc_id", "source").collect())
    sid = routing_shard_id(value, n_shards)
    return [
        (i, s) for i, s in full
        if routing_shard_id(srcs[i], n_shards) == sid
    ][:k]


def test_routed_topk_is_shard_restricted_global_scores(
    spark, documents, routed_idx
):
    """Routed == unrouted restricted to the routing key's shard, with
    IDENTICAL scores (global stats — the whole shard stays visible,
    including other keys hashing to it, exactly ES's semantics)."""
    from es_loaders_spark.bm25 import bm25_topk
    from es_loaders_spark.postings import (
        corpus_stats, doc_lengths, postings_long, term_df,
    )

    docs = documents.select("doc_id", "text")
    p, dl = postings_long(docs), doc_lengths(docs)
    full = [(r.doc_id, r.score) for r in bm25_topk(
        spark, p, dl, term_df(p), corpus_stats(dl), Q, k=10**6).collect()]
    threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    for value in ("src1", "src3"):
        got = [(r.doc_id, r.score)
               for r in topk(spark, routed_idx, Q, k=10,
                             routing=value).collect()]
        assert got == _routed_want(documents, full, value)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            on_executors = [(r.doc_id, r.score)
                            for r in topk(spark, routed_idx, Q, k=10,
                                          routing=value).collect()]
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
        assert on_executors == got


def test_multi_value_routing_unions_shards(spark, documents, routed_idx):
    full = [(r.doc_id, r.score)
            for r in topk(spark, routed_idx, Q, k=10**6).collect()]
    srcs = dict(documents.select("doc_id", "source").collect())
    ids = {routing_shard_id(v, 8) for v in ("src1", "src2")}
    want = [(i, s) for i, s in full
            if routing_shard_id(srcs[i], 8) in ids][:10]
    got = [(r.doc_id, r.score)
           for r in topk(spark, routed_idx, Q, k=10,
                         routing=["src1", "src2"]).collect()]
    assert got == want


def test_serve_mode_never_opens_unrouted_shards(
    spark, documents, routed_idx, tmp_path
):
    """The file-level pruning claim, tested physically: DELETE every
    posting dir EXCEPT the routed shard's — the routed query still
    answers exactly (it never opens the others), while the unrouted
    query visibly loses the deleted shards' docs."""
    d = str(tmp_path / "idx")
    shutil.copytree(routed_idx, d)
    sid = routing_shard_id("src1", 8)
    removed = 0
    for sd in glob.glob(os.path.join(d, "shards", "shard=*")):
        if not sd.endswith(f"shard={sid}"):
            shutil.rmtree(sd)
            removed += 1
    assert removed == 7
    got = [(r.doc_id, r.score)
           for r in topk(spark, d, Q, k=10, routing="src1").collect()]
    want = [(r.doc_id, r.score)
            for r in topk(spark, routed_idx, Q, k=10,
                          routing="src1").collect()]
    assert got == want
    # the unrouted query CAN only see the surviving shard now — proof
    # the other shards' hits weren't coming from anywhere else
    crippled = [(r.doc_id, r.score)
                for r in topk(spark, d, Q, k=10).collect()]
    assert crippled == want
    evict_index(d)


def test_dsl_search_routing(spark, documents, routed_idx):
    got = [(r.doc_id, r.score) for r in dsl.search(
        spark, documents, {"query": {"match": {"text": Q}}, "size": 10},
        index_dir=routed_idx, routing="src1").collect()]
    want = [(r.doc_id, r.score)
            for r in topk(spark, routed_idx, Q, k=10,
                          routing="src1").collect()]
    assert got == want
    # operator=and and filtered matches are index-served too: routed ==
    # unrouted restricted to the routed shard, with identical scores
    source = dict(documents.select("doc_id", "source").collect())
    sid = routing_shard_id("src1", 8)
    for query in (
        {"match": {"text": {"query": "spark query", "operator": "and"}}},
        {"bool": {"must": {"match": {"text": Q}},
                  "filter": {"term": {"lang": "en"}}}},
    ):
        unrouted = [(r.doc_id, r.score) for r in dsl.search(
            spark, documents, {"query": query, "size": 10**6},
            index_dir=routed_idx).collect()]
        routed = [(r.doc_id, r.score) for r in dsl.search(
            spark, documents, {"query": query, "size": 5},
            index_dir=routed_idx, routing="src1").collect()]
        assert routed == [h for h in unrouted
                          if routing_shard_id(source[h[0]], 8) == sid][:5]
        assert routed, query
    # refusals: non-served shapes must not silently scan all shards
    with pytest.raises(ValueError, match="routing"):
        dsl.search(spark, documents, {
            "query": {"match": {"lang": "en"}}, "size": 5,
        }, index_dir=routed_idx, routing="src1")
    with pytest.raises(ValueError, match="routing"):
        dsl.search(spark, documents, {
            "size": 0, "aggs": {"l": {"terms": {"field": "lang"}}},
        }, index_dir=routed_idx, routing="src1")
    with pytest.raises(ValueError, match="routing"):
        dsl.search(spark, documents, {
            "query": {"term": {"lang": "en"}}, "size": 5,
        }, index_dir=routed_idx, routing="src1")


def test_unrouted_index_refuses_routing(spark, documents, tmp_path):
    d = str(tmp_path / "plain")
    build_index(spark, documents, d, n_shards=4)
    with pytest.raises(ValueError, match="routing_field"):
        topk(spark, d, Q, k=5, routing="src1").collect()
    evict_index(d)


def test_append_inherits_routing(spark, documents, routed_idx, tmp_path):
    d = str(tmp_path / "idx")
    shutil.copytree(routed_idx, d)
    new = documents.select(
        (F.col("doc_id") + 10**6).alias("doc_id"), "text", "source"
    )
    append_documents(spark, new, d)
    assert load_stats(d)["routing_field"] == "source"
    full = [(r.doc_id, r.score)
            for r in topk(spark, d, Q, k=10**6).collect()]
    srcs = dict(documents.select("doc_id", "source").collect())
    srcs.update({i + 10**6: s for i, s in srcs.items()})
    sid = routing_shard_id("src1", 8)
    want = [(i, s) for i, s in full
            if routing_shard_id(srcs[i], 8) == sid][:10]
    got = [(r.doc_id, r.score)
           for r in topk(spark, d, Q, k=10, routing="src1").collect()]
    assert got == want
    assert any(i >= 10**6 for i, _ in full), "append missing from index"
    # an append without the routing column must refuse
    with pytest.raises(ValueError, match="routing"):
        append_documents(
            spark,
            documents.select((F.col("doc_id") + 2 * 10**6).alias("doc_id"),
                             "text"),
            d,
        )
    evict_index(d)


def test_build_guards(spark, documents, tmp_path):
    with pytest.raises(ValueError, match="align_shards"):
        build_index(spark, documents, str(tmp_path / "a"), n_shards=4,
                    routing_field="source", align_shards=True)
    with pytest.raises(ValueError, match="not a column"):
        build_index(spark, documents, str(tmp_path / "b"), n_shards=4,
                    routing_field="nope")
    bad = documents.withColumn(
        "source",
        F.when(F.col("doc_id") == 5, None).otherwise(F.col("source")),
    )
    with pytest.raises(Exception, match="routing"):
        build_index(spark, bad, str(tmp_path / "c"), n_shards=4,
                    routing_field="source")


def test_routed_plans_carry_the_shard_predicate(spark, documents, routed_idx):
    """The deletion test above shows behavior; this pins the MECHANISM:
    the routed plan filters the doclens source on the routed shard id —
    an implementation that merely tolerated missing shard dirs would
    show no such predicate."""
    from tests.test_plans import explain_str
    from es_loaders_spark.wand import _WarmIndex

    sid = routing_shard_id("src1", 8)
    # the serve path has a Spark plan only on its executor site (a small
    # warm index is otherwise served on the driver): force that site here
    threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        routed_plan = explain_str(
            topk(spark, routed_idx, Q, k=5, routing="src1")
        )
        plain_plan = explain_str(topk(spark, routed_idx, Q, k=5))
        assert f"shard#" in routed_plan
        # the literal routed shard id appears in a filter condition
        assert f"IN ({sid})" in routed_plan or f"= {sid}" in routed_plan, (
            routed_plan[:2000])
        assert f"IN ({sid})" not in plain_plan and f"= {sid}" not in plain_plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
    # the driver path's mechanism: a routed query opens only the routed
    # shard's posting datasets
    evict_index(routed_idx)
    topk(spark, routed_idx, Q, k=5, routing="src1").collect()
    warm = _WarmIndex.get(spark, routed_idx)
    assert warm.driver_side(spark) and set(warm._datasets) == {sid}


def test_cli_routed_query_equals_per_query_topk(
    spark, routed_idx, monkeypatch, capsys
):
    """CLI ``query --routing`` with two texts answers as one routed
    ``topk_batch``: each text's lines equal its own routed ``topk``."""
    import json

    from es_loaders_spark import cli, session

    texts = [Q, "the hash join"]
    monkeypatch.setattr(session, "get_spark", lambda *a, **kw: spark)
    monkeypatch.setattr(spark, "stop", lambda: None)  # the session is shared
    cli.main(["query", "--index-dir", routed_idx, "--routing", "src1",
              "--query", texts[0], "--query", texts[1], "-k", "5"])
    got = [json.loads(line) for line in capsys.readouterr().out.splitlines()]
    want = [
        {"query": q, "rank": rank, "doc_id": r.doc_id, "score": r.score,
         "routing": ["src1"]}
        for q in texts
        for rank, r in enumerate(
            topk(spark, routed_idx, q, k=5, routing="src1").collect(), 1)
    ]
    assert got == want and {h["query"] for h in got} == set(texts)


def test_non_string_routing_column_refused(spark, documents, tmp_path):
    """Build-side Spark CAST and query-side Python str() render doubles
    and booleans differently — a routed query would prune to the WRONG
    shard. Refuse at build time instead."""
    df = documents.withColumn("rkey", F.col("doc_id") * 1.5)
    with pytest.raises(ValueError, match="string column"):
        build_index(spark, df, str(tmp_path / "d"), n_shards=4,
                    routing_field="rkey")


def test_routed_count(spark, documents, routed_idx):
    """ES GET /idx/_count?routing= — index-served, pruned to the routed
    shard; equals the python-computed count of routed-shard docs
    containing the term."""
    sid = routing_shard_id("src1", 8)
    srcs = dict(documents.select("doc_id", "source").collect())
    texts = dict(documents.select("doc_id", "text").collect())
    want = sum(
        1 for i, s in srcs.items()
        if routing_shard_id(s, 8) == sid and "spark" in texts[i].split()
    )
    got = dsl.count(
        spark, documents, {"query": {"match": {"text": "spark"}}},
        index_dir=routed_idx, routing="src1",
    ).collect()[0].n
    assert got == want and want > 0
    # unrouted count is strictly larger (other shards contribute)
    full = dsl.count(
        spark, documents, {"query": {"match": {"text": "spark"}}},
        index_dir=routed_idx,
    ).collect()[0].n
    assert full > got
    # scan-path count with routing refuses
    with pytest.raises(ValueError, match="routing"):
        dsl.count(spark, documents, {"query": {"term": {"lang": "en"}}},
                  index_dir=routed_idx, routing="src1").collect()
    with pytest.raises(ValueError, match="index_dir"):
        dsl.count(spark, documents, {"query": {"match": {"text": "spark"}}},
                  routing="src1")


def test_routing_composes_with_analysis_chain(spark, documents, tmp_path):
    """Routing and analysis chains are orthogonal index settings — a
    routed+chained index must analyze with the chain AND prune to the
    routed shard, and both settings must survive an append."""
    d = str(tmp_path / "rc")
    build_index(
        spark, documents, d, n_shards=8, routing_field="source",
        analysis={"stopwords": ["the", "a"], "stemmer": "minimal_english"},
    )
    full = [(r.doc_id, r.score)
            for r in topk(spark, d, "the tables", k=10**6).collect()]
    assert full, "chained query (stemmed 'tables', stopped 'the') matched"
    got = [(r.doc_id, r.score)
           for r in topk(spark, d, "the tables", k=10, routing="src1").collect()]
    assert got == _routed_want(documents, full, "src1")
    new = documents.select(
        (F.col("doc_id") + 10**6).alias("doc_id"), "text", "source")
    append_documents(spark, new, d)
    st = load_stats(d)
    assert st["routing_field"] == "source" and st["analysis"] is not None
    evict_index(d)


def test_routed_query_sees_deletes(spark, documents, tmp_path):
    from es_loaders_spark.deletes import delete_ids

    d = str(tmp_path / "rd")
    build_index(spark, documents, d, n_shards=8, routing_field="source")
    before = topk(spark, d, Q, k=5, routing="src1").collect()
    victim = before[0].doc_id
    delete_ids(spark, d, spark.createDataFrame([(victim,)], "doc_id long"))
    after = [r.doc_id for r in topk(spark, d, Q, k=5, routing="src1").collect()]
    assert victim not in after
    assert after == [r.doc_id for r in before[1:]] + after[len(before) - 1:]
    evict_index(d)


def test_routed_web_every_key(spark, documents, routed_idx):
    """Exhaustive key web: for EVERY distinct routing key, the routed
    page equals the unrouted ranking restricted to that key's shard —
    one full ranking collected once, ten routed queries checked."""
    full = [(r.doc_id, r.score)
            for r in topk(spark, routed_idx, Q, k=10**6).collect()]
    keys = sorted(r.source for r in
                  documents.select("source").distinct().collect())
    assert len(keys) >= 5
    for key in keys:
        got = [(r.doc_id, r.score)
               for r in topk(spark, routed_idx, Q, k=8,
                             routing=key).collect()]
        assert got == _routed_want(documents, full, key, k=8), key
