"""Index-served DSL match leaves: filtered and operator=and matches
(``wand.topk(allowed=...)``), ``dsl.count`` and the faceted-aggs match
set (``wand.match_docs``).

Every case runs on both execution sites — the driver (a warm index whose
live doclens fit ``spark.sql.autoBroadcastJoinThreshold``) and, with the
threshold at -1, Spark — and both answers must be identical. On an index
with no deletes whose ``docs`` is the indexed table, they must also equal
the scan twin (the same body with ``index_dir=None``).
"""

from __future__ import annotations

import contextlib

import pytest
from conftest import count_jobs

from es_loaders_spark import dsl
from es_loaders_spark.analyze import AnalysisChain, tokenize_text
from es_loaders_spark.bm25 import bm25_topk
from es_loaders_spark.build import append_documents, build_index, routing_shard_id
from es_loaders_spark.deletes import delete_by_term, tombstones
from es_loaders_spark.postings import corpus_stats, doc_lengths, postings_long, term_df
from es_loaders_spark.wand import _WarmIndex, evict_index, match_docs, warm_index

THRESHOLD = "spark.sql.autoBroadcastJoinThreshold"
Q = "spark query data table"
FILTERS = {  # the bool clauses next to the scoring match
    "term": {"filter": {"term": {"lang": "en"}}},
    "range": {"filter": {"range": {"n_chars": {"gte": 300}}}},
    "must_not": {"must_not": {"term": {"lang": "en"}}},
    "nothing": {"filter": {"term": {"lang": "xx"}}},
}


def filtered(text, name, operator="or", size=10) -> dict:
    match = {"match": {"text": {"query": text, "operator": operator}}}
    return {"query": {"bool": {"must": match, **FILTERS[name]}}, "size": size}


def rows(df) -> list[tuple]:
    return [tuple(r) for r in df.collect()]


@contextlib.contextmanager
def spark_site(spark):
    old = spark.conf.get(THRESHOLD)
    spark.conf.set(THRESHOLD, "-1")
    try:
        yield
    finally:
        spark.conf.set(THRESHOLD, old)


def both_sites(spark, d, fn) -> list[tuple]:
    warm_index(spark, d)
    assert _WarmIndex.get(spark, d).driver_side(spark)
    on_driver = fn()
    with spark_site(spark):
        assert not _WarmIndex.get(spark, d).driver_side(spark)
        on_spark = fn()
    assert on_driver == on_spark
    return on_driver


def search(spark, docs, d, body):
    return both_sites(spark, d, lambda: rows(dsl.search(spark, docs, body, index_dir=d)))


def count(spark, docs, d, body, **kw):
    return both_sites(
        spark, d, lambda: rows(dsl.count(spark, docs, body, index_dir=d, **kw))
    )[0][0]


def aggs_body(text, operator="or") -> dict:
    return {"size": 0,
            "query": {"match": {"text": {"query": text, "operator": operator}}},
            "aggs": {"by_lang": {"terms": {"field": "lang"}}}}


def aggs(spark, docs, d, body):
    return both_sites(
        spark, d, lambda: sorted(rows(dsl.search(spark, docs, body, index_dir=d)))
    )


@pytest.fixture(scope="module")
def docs(documents):
    return documents.select("doc_id", "text", "lang", "source", "n_chars")


@pytest.fixture(scope="module")
def plain_idx(spark, docs, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("served_plain") / "idx")
    build_index(spark, docs, d, n_shards=4)
    yield d
    evict_index(d)


@pytest.mark.parametrize("name", sorted(FILTERS))
@pytest.mark.parametrize("operator", ["or", "and"])
def test_filtered_match_equals_scan_twin(spark, docs, plain_idx, name, operator):
    for text in (Q, "hash join"):
        body = filtered(text, name, operator)
        got = search(spark, docs, plain_idx, body)
        assert got == rows(dsl.search(spark, docs, body)), (text, name)
        if name == "nothing" or (operator == "and" and len(text.split()) > 3):
            continue
        assert got, (text, name, operator)


def test_filtered_match_k_larger_than_hits(spark, docs, plain_idx):
    body = filtered("hash join", "term", size=10_000)
    got = search(spark, docs, plain_idx, body)
    assert 0 < len(got) < 193  # fewer hits than lang=en docs
    assert got == rows(dsl.search(spark, docs, body))


def test_bool_wrapping_only_a_match_is_the_plain_match(spark, docs, plain_idx):
    wrapped = {"query": {"bool": {"must": {"match": {"text": Q}}}}, "size": 10}
    plain = {"query": {"match": {"text": Q}}, "size": 10}
    assert dsl._split_scoring(wrapped["query"]) == (plain["query"], {})
    assert search(spark, docs, plain_idx, wrapped) == search(spark, docs, plain_idx, plain)
    sc = spark.sparkContext
    sc.setJobGroup("served-bool-probe", "bool-wrapped match")
    try:
        dsl.search(spark, docs, wrapped, index_dir=plain_idx).collect()
    finally:
        sc._jsc.clearJobGroup()
    assert list(sc.statusTracker().getJobIdsForGroup("served-bool-probe")) == []


@pytest.mark.parametrize("operator", ["or", "and"])
def test_count_and_aggs_equal_scan_twin(spark, docs, plain_idx, operator):
    for text in (Q, "hash join", "zzzq"):
        body = {"query": {"match": {"text": {"query": text, "operator": operator}}}}
        n = count(spark, docs, plain_idx, body)
        assert n == rows(dsl.count(spark, docs, body))[0][0], text
        ab = aggs_body(text, operator)
        assert aggs(spark, docs, plain_idx, ab) == sorted(rows(dsl.search(spark, docs, ab)))
    # an empty query counts nothing on both sites
    assert count(spark, docs, plain_idx, {"query": {"match": {"text": "  "}}}) == 0


def test_routed_count(spark, docs, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("served_routed") / "idx")
    build_index(spark, docs, d, n_shards=8, routing_field="source")
    pdf = docs.toPandas()
    sid = routing_shard_id("src1", 8)
    routed = pdf[[routing_shard_id(s, 8) == sid for s in pdf["source"]]]
    for op, test in (("or", any), ("and", all)):
        body = {"query": {"match": {"text": {"query": "hash join", "operator": op}}}}
        want = sum(
            test(t in set(tokenize_text(text)) for t in ("hash", "join"))
            for text in routed["text"]
        )
        assert count(spark, docs, d, body, routing="src1") == want > 0, op
    evict_index(d)


def test_appended_generations(spark, docs, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("served_append") / "idx")
    build_index(spark, docs.filter("doc_id < 300"), d, n_shards=4)
    append_documents(spark, docs.filter("doc_id >= 300"), d)
    for operator in ("or", "and"):
        body = filtered(Q, "term", operator, size=20)
        assert search(spark, docs, d, body) == rows(dsl.search(spark, docs, body))
        cbody = {"query": {"match": {"text": {"query": "hash join", "operator": operator}}}}
        assert count(spark, docs, d, cbody) == rows(dsl.count(spark, docs, cbody))[0][0]
        ab = aggs_body("hash join", operator)
        assert aggs(spark, docs, d, ab) == sorted(rows(dsl.search(spark, docs, ab)))
    evict_index(d)


def test_tombstones_after_delete_by_term(spark, docs, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("served_delete") / "idx")
    build_index(spark, docs, d, n_shards=4)
    warm_index(spark, d)
    assert delete_by_term(spark, d, "spark") > 0
    gone = frozenset(r["doc_id"] for r in tombstones(spark, d).collect())
    live = docs.filter(~docs.doc_id.isin(sorted(gone)))
    for operator in ("or", "and"):
        # corpus stats keep their pre-delete values (Lucene live-docs
        # model): the twin is the full-corpus scan minus the tombstones
        body = filtered("query data", "range", operator, size=10**4)
        got = search(spark, docs, d, body)
        assert got and not {h[0] for h in got} & gone
        assert got == [h for h in rows(dsl.search(spark, docs, body)) if h[0] not in gone]
        cbody = {"query": {"match": {"text": {"query": "query data", "operator": operator}}}}
        want = rows(dsl.count(spark, live, cbody))[0][0]
        assert count(spark, docs, d, cbody) == want > 0
        ab = aggs_body("query data", operator)
        assert aggs(spark, docs, d, ab) == sorted(rows(dsl.search(spark, live, ab)))
    # every "spark" doc is gone: its count is 0 on both sites
    assert count(spark, docs, d, {"query": {"match": {"text": "spark"}}}) == 0
    evict_index(d)


def test_stop_stem_chain_index(spark, docs, tmp_path_factory):
    cfg = {"stopwords": "_english_", "stemmer": "minimal_english"}
    chain = AnalysisChain.from_config(cfg)
    d = str(tmp_path_factory.mktemp("served_chain") / "idx")
    build_index(spark, docs.select("doc_id", "text"), d, n_shards=4, analysis=cfg)
    text = "the tables queries"
    text_docs = docs.select("doc_id", "text")
    p = postings_long(text_docs, chain=chain)
    dl = doc_lengths(text_docs, chain=chain)
    exact = rows(bm25_topk(spark, p, dl, term_df(p), corpus_stats(dl),
                           chain.tokens(text), k=10**6))
    pdf = docs.toPandas()
    toks = {i: set(chain.tokens(t)) for i, t in zip(pdf["doc_id"], pdf["text"])}
    have_all = {i for i, ts in toks.items() if {"table", "query"} <= ts}
    en = set(pdf.loc[pdf["lang"] == "en", "doc_id"])
    for operator, keep in (("or", en), ("and", en & have_all)):
        got = search(spark, docs, d, filtered(text, "term", operator, size=20))
        assert got == [h for h in exact if h[0] in keep][:20], operator
        ids = {r[0] for r in rows(match_docs(
            spark, d, chain.tokens(text), conjunctive=operator == "and"))}
        want = have_all if operator == "and" else {
            i for i, ts in toks.items() if ts & {"table", "query"}}
        assert ids == want
        cbody = {"query": {"match": {"text": {"query": text, "operator": operator}}}}
        assert count(spark, docs, d, cbody) == len(want)
    evict_index(d)


def test_warm_driver_site_job_counts(spark, docs, plain_idx):
    warm_index(spark, plain_idx)
    cbody = {"query": {"match": {"text": Q}}}
    fbody = filtered(Q, "term")
    for body in (cbody, fbody):  # first-call planning
        dsl.search(spark, docs, body, index_dir=plain_idx).collect()
    n_count = count_jobs(spark, "served-count-probe", lambda: dsl.count(
        spark, docs, cbody, index_dir=plain_idx).collect())
    assert n_count == 0
    n_filtered = count_jobs(spark, "served-filter-probe", lambda: dsl.search(
        spark, docs, fbody, index_dir=plain_idx).collect())
    assert n_filtered == 1  # the allow-list collect
