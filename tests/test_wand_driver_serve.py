"""Driver-side serving of warm small indexes (wand.topk).

Every query runs twice: on the driver path (the default for an index
whose live doclens fit ``spark.sql.autoBroadcastJoinThreshold``) and,
with the threshold at -1, on the ``mapInPandas`` path. Both answers must
be identical (ids and scores) and equal the exact join scorer
``bm25.bm25_topk``. A ``topk_batch`` of the same queries must equal the
per-query answers on both threshold settings: with the gate open a
batch whose queries × index docs are at most
``wand._DRIVER_BATCH_QUERY_DOCS`` runs on the driver too, with the gate
closed on the executor site.
"""

from __future__ import annotations

import contextlib
import os

import numpy as np
import pyarrow.parquet as pq
import pytest
from pyspark.sql import DataFrame

from conftest import count_jobs

from es_loaders_spark.analyze import AnalysisChain
from es_loaders_spark.bm25 import bm25_topk
from es_loaders_spark.build import append_documents, build_index, routing_shard_id
from es_loaders_spark.deletes import delete_by_term, delete_ids, tombstones
from es_loaders_spark.postings import corpus_stats, doc_lengths, postings_long, term_df
from es_loaders_spark import wand
from es_loaders_spark.wand import (
    _WarmIndex, evict_index, term_blocks_from_flat, topk, topk_batch, warm_index,
)

QUERIES = ["spark query data", "the fast table scan", "hash join", "window merge order"]
THRESHOLD = "spark.sql.autoBroadcastJoinThreshold"


def rows(df) -> list[tuple]:
    return [(r["doc_id"], r["score"]) for r in df.collect()]


@contextlib.contextmanager
def spark_path(spark):
    """Force the mapInPandas serve path for the duration of the block."""
    old = spark.conf.get(THRESHOLD)
    spark.conf.set(THRESHOLD, "-1")
    try:
        yield
    finally:
        spark.conf.set(THRESHOLD, old)


def both_paths(spark, d, q, k=10, **kw) -> list[tuple]:
    warm_index(spark, d)
    assert _WarmIndex.get(spark, d).driver_side(spark)
    on_driver = rows(topk(spark, d, q, k=k, **kw))
    with spark_path(spark):
        assert not _WarmIndex.get(spark, d).driver_side(spark)
        on_spark = rows(topk(spark, d, q, k=k, **kw))
    assert on_driver == on_spark, q
    return on_driver


def batch_matches(spark, d, queries, k=10, **kw) -> None:
    """``topk_batch`` over ``queries`` equals each query's own ``topk``,
    with the driver gate open and closed."""
    want = {f"q{i}": both_paths(spark, d, q, k=k, **kw) for i, q in enumerate(queries)}
    for forced in (False, True):
        with spark_path(spark) if forced else contextlib.nullcontext():
            got = {qid: [] for qid in want}
            for r in sorted(topk_batch(spark, d, queries, k=k, **kw).collect(),
                            key=lambda r: (r["query_id"], r["rank"])):
                got[r["query_id"]].append((r["doc_id"], r["score"]))
        assert got == want, forced


def exact(spark, docs, q, k, chain=None, drop=frozenset()) -> list[tuple]:
    p = postings_long(docs, chain=chain)
    dl = doc_lengths(docs, chain=chain)
    terms = chain.tokens(q) if chain else q
    hits = rows(bm25_topk(spark, p, dl, term_df(p), corpus_stats(dl), terms, k=10**6))
    return [h for h in hits if h[0] not in drop][:k]


@pytest.fixture(scope="module")
def plain_idx(spark, documents, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("drv_plain") / "idx")
    build_index(spark, documents, d, n_shards=4)
    yield d
    evict_index(d)


def test_driver_path_matches_spark_path_and_exact(spark, documents, plain_idx):
    docs = documents.select("doc_id", "text")
    for q in QUERIES:
        assert both_paths(spark, plain_idx, q) == exact(spark, docs, q, 10), q


def test_warm_driver_topk_submits_no_spark_job(spark, plain_idx):
    sc = spark.sparkContext
    warm_index(spark, plain_idx)
    topk(spark, plain_idx, "spark data", k=5).collect()  # first-call planning
    sc.setJobGroup("driver-serve-probe", "warm driver-path topk")
    try:
        got = topk(spark, plain_idx, "spark query data", k=10).collect()
    finally:
        sc._jsc.clearJobGroup()
    assert len(got) == 10
    assert list(sc.statusTracker().getJobIdsForGroup("driver-serve-probe")) == []


def test_warm_driver_topk_makes_one_relation_and_no_collect(spark, plain_idx, monkeypatch):
    """Rounding needs no JVM round trip: a warm driver-site ``topk``
    creates its one result relation and collects nothing itself."""
    warm_index(spark, plain_idx)
    topk(spark, plain_idx, "spark data", k=5).collect()  # first-call planning
    calls = []

    def counting(name, fn):
        def wrapped(*a, **kw):
            calls.append(name)
            return fn(*a, **kw)
        return wrapped

    monkeypatch.setattr(
        spark, "createDataFrame", counting("createDataFrame", spark.createDataFrame)
    )
    for name in ("collect", "toArrow", "toPandas", "count"):
        monkeypatch.setattr(DataFrame, name, counting(name, getattr(DataFrame, name)))
    monkeypatch.setattr(wand, "_jvm_round", counting("_jvm_round", wand._jvm_round))
    for q in QUERIES:
        calls.clear()
        topk(spark, plain_idx, q, k=10)
        if "_jvm_round" not in calls:  # the rare half-quantum band: F.round
            assert calls == ["createDataFrame"], q


def test_unindexed_queries_submit_no_spark_job(spark, plain_idx):
    """Empty answers are Arrow LocalRelations (``session.empty_frame``),
    not RDD-backed ``createDataFrame([], ddl)`` relations."""
    warm_index(spark, plain_idx)
    for site in (contextlib.nullcontext, lambda: spark_path(spark)):
        with site():
            assert count_jobs(spark, "unindexed-topk", lambda: topk(
                spark, plain_idx, "zzzq qqqz").collect()) == 0
            assert count_jobs(spark, "unindexed-batch", lambda: topk_batch(
                spark, plain_idx, ["zzzq", "qqqz zzzq"]).collect()) == 0


def batch_of(documents, n: int, seed: int = 0) -> list[str]:
    """n queries of 1-4 words drawn from the corpus."""
    words = sorted({w for r in documents.select("text").limit(100).collect()
                    for w in r[0].split() if w.isalpha()})
    rng = np.random.default_rng(seed)
    return [" ".join(rng.choice(words, 1 + i % 4)) for i in range(n)]


def test_warm_driver_batch_submits_no_spark_job(spark, documents, plain_idx):
    warm_index(spark, plain_idx)
    batch = batch_of(documents, 50)
    topk_batch(spark, plain_idx, batch[:5]).collect()  # first-call planning
    got = []
    assert count_jobs(spark, "driver-batch", lambda: got.extend(
        topk_batch(spark, plain_idx, batch, k=10).collect())) == 0
    assert {r["query_id"] for r in got} == {f"q{i}" for i in range(50)}


def test_batch_above_cutoff_runs_the_executor_stage(spark, documents, plain_idx):
    """A batch over the cutoff submits the executor site's jobs (the
    ``mapInPandas`` stage, and the window's stage, which AQE runs as a
    job of its own) even with the driver gate open."""
    warm_index(spark, plain_idx)
    warm = _WarmIndex.get(spark, plain_idx)
    assert warm.driver_side(spark)
    n_docs = int(warm.stats["n_docs"])
    batch = batch_of(documents, wand._DRIVER_BATCH_QUERY_DOCS // n_docs + 1, seed=1)
    with spark_path(spark):
        topk_batch(spark, plain_idx, batch[:5]).collect()  # first-call planning
        forced = count_jobs(spark, "forced-batch", lambda: topk_batch(
            spark, plain_idx, batch, k=3).collect())
    got = []
    assert count_jobs(spark, "executor-batch", lambda: got.extend(
        topk_batch(spark, plain_idx, batch, k=3).collect())) == forced
    assert forced > 0  # 2 today: AQE runs the window's shuffle as its own job
    want = [(r["query_id"], r["rank"], r["doc_id"], r["score"])
            for r in topk_batch(spark, plain_idx, batch[:50], k=3).collect()]
    assert sorted(want) == sorted(
        (r["query_id"], r["rank"], r["doc_id"], r["score"]) for r in got
        if int(r["query_id"][1:]) < 50
    )


def test_batch_mixes_unindexed_queries_and_large_k(spark, plain_idx):
    batch_matches(
        spark, plain_idx,
        ["hash join", "zzzq qqqz", "spark query data", "the of and", "qqqz spark"],
        k=10_000,
    )


def test_warm_executor_topk_submits_one_spark_job(spark, plain_idx):
    """At threshold -1 a warm ``topk`` is the one ``mapInPandas`` job:
    the query terms' dfs come from a pyarrow read on the driver."""
    sc = spark.sparkContext
    warm_index(spark, plain_idx)
    with spark_path(spark):
        topk(spark, plain_idx, "spark data", k=5).collect()  # first-call planning
        sc.setJobGroup("executor-serve-probe", "warm executor-site topk")
        try:
            got = topk(spark, plain_idx, "spark query data", k=10).collect()
        finally:
            sc._jsc.clearJobGroup()
    assert len(got) == 10
    assert len(sc.statusTracker().getJobIdsForGroup("executor-serve-probe")) == 1


def test_warm_index_pins_one_dataframe(spark, plain_idx):
    """Warming an index persists exactly one DataFrame (the shard-
    partitioned live doclens); batch and single queries add none."""
    def persisted() -> set:
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

    evict_index(plain_idx)
    before = persisted()  # warming may evict another index's entry (LRU)
    warm_index(spark, plain_idx)
    added = persisted() - before
    assert len(added) == 1
    topk_batch(spark, plain_idx, QUERIES, k=5).collect()
    with spark_path(spark):
        topk(spark, plain_idx, "spark data", k=5).collect()
    assert persisted() - before == added


def test_k_larger_than_hit_count_and_unindexed_terms(spark, documents, plain_idx):
    docs = documents.select("doc_id", "text")
    got = both_paths(spark, plain_idx, "hash join", k=10_000)
    assert 0 < len(got) < documents.count()
    assert got == exact(spark, docs, "hash join", 10_000)
    assert both_paths(spark, plain_idx, "zzzq qqqz") == []
    mixed = "zzzq spark"
    assert both_paths(spark, plain_idx, mixed) == exact(spark, docs, mixed, 10)


def test_appended_generations(spark, documents, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("drv_append") / "idx")
    docs = documents.select("doc_id", "text")
    build_index(spark, docs.filter("doc_id < 300"), d, n_shards=4)
    append_documents(spark, docs.filter("doc_id >= 300"), d)
    assert os.path.exists(os.path.join(d, "shards_gen1"))
    for q in QUERIES:
        assert both_paths(spark, d, q) == exact(spark, docs, q, 10), q
    batch_matches(spark, d, QUERIES)
    evict_index(d)


def test_tombstones_after_delete_by_term(spark, documents, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("drv_delete") / "idx")
    docs = documents.select("doc_id", "text")
    build_index(spark, docs, d, n_shards=4)
    warm_index(spark, d)
    assert delete_by_term(spark, d, "spark") > 0
    gone = frozenset(r["doc_id"] for r in tombstones(spark, d).collect())
    # corpus stats keep their pre-delete values (Lucene live-docs model)
    for q in ["spark query data", "the data"]:
        got = both_paths(spark, d, q, k=20)
        assert not {i for i, _ in got} & gone
        assert got == exact(spark, docs, q, 20, drop=gone), q
    batch_matches(spark, d, ["spark query data", "the data", "hash join"], k=20)
    evict_index(d)


def test_every_doc_tombstoned(spark, documents, tmp_path_factory):
    """With no live doclens left, warm-up still succeeds and every serve
    path returns an empty top-k (n_docs keeps its pre-delete value, so
    the driver gate stays open)."""
    d = str(tmp_path_factory.mktemp("drv_all_deleted") / "idx")
    docs = documents.select("doc_id", "text")
    build_index(spark, docs, d, n_shards=4)
    warm_index(spark, d)
    assert delete_ids(spark, d, docs.select("doc_id")) == docs.count()
    for q in QUERIES:
        assert both_paths(spark, d, q) == [], q
    batch_matches(spark, d, QUERIES)
    evict_index(d)


def test_routing(spark, documents, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("drv_routed") / "idx")
    build_index(spark, documents, d, n_shards=8, routing_field="source")
    docs = documents.select("doc_id", "text")
    source = dict(documents.select("doc_id", "source").collect())
    sid = routing_shard_id("src1", 8)
    q = "spark query data table"
    want = [h for h in exact(spark, docs, q, 10**6)
            if routing_shard_id(source[h[0]], 8) == sid][:10]
    assert both_paths(spark, d, q, routing="src1") == want
    batch_matches(spark, d, [q, "the hash join"], routing="src1")
    evict_index(d)


def test_stemming_analysis_chain(spark, documents, tmp_path_factory):
    cfg = {"stopwords": "_english_", "stemmer": "minimal_english"}
    d = str(tmp_path_factory.mktemp("drv_chain") / "idx")
    docs = documents.select("doc_id", "text")
    build_index(spark, docs, d, n_shards=4, analysis=cfg)
    chain = AnalysisChain.from_config(cfg)
    for q in ["the tables queries", "spark joins data"]:
        assert both_paths(spark, d, q) == exact(spark, docs, q, 10, chain=chain), q
    # an all-stopword query analyzes to nothing on both paths
    assert both_paths(spark, d, "the of and") == []
    batch_matches(spark, d, ["the tables queries", "spark joins data", "the of and"])
    evict_index(d)


def test_term_blocks_from_arrow_equals_pandas(plain_idx):
    """The serve sites read posting rows as Arrow, ``topk_merged``'s
    cogroup hands the kernel pandas frames: both group into the same
    block lists."""
    shard = next(n for n in sorted(os.listdir(os.path.join(plain_idx, "shards")))
                 if n.startswith("shard="))
    t = pq.read_table(os.path.join(plain_idx, "shards", shard))
    from_arrow = term_blocks_from_flat(t)
    assert from_arrow == term_blocks_from_flat(t.to_pandas())
    for blocks in from_arrow.values():
        mins = [b["min_doc"] for b in blocks]
        assert mins == sorted(mins)
