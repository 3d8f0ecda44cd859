"""Index-side ``query_string`` trees served on the driver.

A tree whose leaves are all ``term``, ``prefix`` or ``wildcard`` over a
warm index that ``wand`` serves on the driver is evaluated in the driver
process (``querystring._driver_site``): numpy leaf arrays compiled by
``_compile_arrays``. Every case runs on three paths — the driver site,
the Spark index site (threshold -1) and the scan side (``serve:
"scan"``) — and all three answers must be identical.

The first test pins the three compilers of the boolean tree against each
other: ``_compile_arrays`` (numpy), ``_compile_columns`` (Catalyst) and
``_compile_sql`` (DuckDB) over seeded random trees and null patterns.
"""

from __future__ import annotations

import contextlib

import duckdb
import numpy as np
import pyarrow as pa
import pytest
from conftest import count_jobs
from pyspark.sql import functions as F

from es_loaders_spark import dsl, querystring
from es_loaders_spark.build import append_documents, build_index
from es_loaders_spark.deletes import delete_by_term, delete_ids, tombstones
from es_loaders_spark.querystring import (
    Leaf, _collect_leaves, _compile_arrays, _compile_columns, _compile_sql,
    execute_tree, parse_query_string,
)
from es_loaders_spark.wand import _WarmIndex, evict_index, warm_index

THRESHOLD = "spark.sql.autoBroadcastJoinThreshold"
# the benchmark's four query_string shapes, then pure negatives, leading
# and embedded wildcards, boosts and unindexed terms
PERFBENCH_SHAPES = ["spark AND (query OR data)", "(spark OR query) AND NOT data",
                    "spark^2 query data", "spark AND tabl*"]
QUERIES = PERFBENCH_SHAPES + [
    "NOT spark", "-spark -data", "spark OR NOT data",
    "(NOT spark) AND (query OR data)",
    "*ata", "q?ery spark", "d*a AND sp?rk", "+spark -d?ta query",
    "spark^2 data^0.5 (query OR table)^1.5",
    "zzzq", "zzzq OR spark", "NOT zzzq", "zzzq* OR quer*",
]
FILTERS = {"filter": {"term": {"lang": "en"}}}


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


def body(q, serve="index", size=10, filters=None) -> dict:
    clause = {"query_string": {"query": q, "serve": serve}}
    if filters:
        clause = {"bool": {"must": clause, **filters}}
    return {"query": clause, "size": size}


def three_sites(spark, docs, d, q, **kw) -> list[tuple]:
    """The driver site's answer, asserted equal to the Spark index site
    and to the scan side."""
    def search(serve):
        return rows(dsl.search(spark, docs, body(q, serve, **kw), index_dir=d))

    warm_index(spark, d)
    assert _WarmIndex.get(spark, d).driver_side(spark)
    on_driver = search("index")
    with spark_site(spark):
        assert not _WarmIndex.get(spark, d).driver_side(spark)
        on_spark = search("index")
    assert on_driver == on_spark, q
    assert on_driver == search("scan"), q
    return on_driver


# ---------- the three tree compilers agree ----------

VOCAB = ["a", "b", "c", "d", "e"]  # few words, so leaves are shared


def _random_query(rng, depth=0) -> str:
    parts = []
    for i in range(rng.randint(1, 4)):
        conj = rng.choice(["", "AND ", "OR "]) if i else ""
        mod = rng.choice(["", "", "+", "-", "NOT "])
        if depth < 2 and rng.rand() < 0.3:
            node = "(" + _random_query(rng, depth + 1) + ")"
        else:
            node = rng.choice(VOCAB)
        parts.append(conj + mod + node + rng.choice(["", "", "^2", "^0.5", "^1.3"]))
    return " ".join(parts)


def test_compilers_agree_on_random_trees(spark):
    rng = np.random.RandomState(7)
    queries = ["NOT a", "-a -b", "(-a) OR b", "a AND (NOT b)", "a a^2 (a OR b)"]
    queries += [_random_query(rng) for _ in range(40)]
    con = duckdb.connect()
    n = 48
    for q in queries:
        tree = parse_query_string(q, "text", rng.choice(["or", "and"]))
        leaves: list[Leaf] = []
        _collect_leaves(tree, leaves)
        table = {"doc_id": pa.array(np.arange(n), pa.int64())}
        cols = {}
        for leaf in leaves:
            null = rng.rand(n) < rng.choice([0.0, 0.3, 0.7, 1.0])
            vals = rng.uniform(0.1, 5.0, n)
            table[f"_qs{leaf.id}"] = pa.array(vals, pa.float64(), mask=null)
            cols[leaf.id] = np.where(null, np.nan, vals)
        table = pa.table(table)

        m_np, s_np = _compile_arrays(tree, cols)
        m_col, s_col = _compile_columns(tree)
        got = spark.createDataFrame(table).select(
            "doc_id", m_col.alias("m"), s_col.alias("raw"),
            F.round(s_col, 4).alias("s"),
        ).collect()
        m_sql, s_sql = _compile_sql(tree)
        con.register("leaves", table)
        duck = con.execute(
            f"SELECT doc_id, {m_sql} AS m, round({s_sql}, 4) AS s "
            "FROM leaves ORDER BY doc_id"
        ).fetchall()
        got.sort(key=lambda r: r["doc_id"])

        assert [bool(r["m"]) for r in got] == m_np.tolist(), q
        assert [bool(r[1]) for r in duck] == m_np.tolist(), q
        assert [r["raw"] for r in got] == s_np.tolist(), q  # the same doubles
        hit = np.flatnonzero(m_np)
        assert [got[i]["s"] for i in hit] == [round(float(s_np[i]), 4) for i in hit], q
        assert [duck[i][2] for i in hit] == [got[i]["s"] for i in hit], q


# ---------- driver site == Spark index site == scan side ----------

@pytest.fixture(scope="module")
def docs(documents):
    return documents.select("doc_id", "text", "lang", "source", "n_chars")


@pytest.fixture(scope="module")
def plain_idx(spark, docs, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("qs_driver") / "idx")
    build_index(spark, docs, d, n_shards=4)
    yield d
    evict_index(d)


@pytest.mark.parametrize("q", QUERIES)
def test_three_sites_agree(spark, docs, plain_idx, q):
    got = three_sites(spark, docs, plain_idx, q)
    assert bool(got) == (q != "zzzq"), q  # only the lone unindexed term is empty


def test_k_larger_than_hits_and_filters(spark, docs, plain_idx):
    n_docs = docs.count()
    for q in ("spark AND (query OR data)", "NOT spark", "*ata"):
        got = three_sites(spark, docs, plain_idx, q, size=10_000)
        assert 0 < len(got) < n_docs, q
        filtered = three_sites(spark, docs, plain_idx, q, size=10_000, filters=FILTERS)
        en = {r[0] for r in docs.filter("lang = 'en'").select("doc_id").collect()}
        assert filtered == [h for h in got if h[0] in en], q


def test_appended_generations(spark, docs, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("qs_driver_append") / "idx")
    build_index(spark, docs.filter("doc_id < 300"), d, n_shards=4)
    append_documents(spark, docs.filter("doc_id >= 300"), d)
    for q in PERFBENCH_SHAPES + ["NOT spark", "q?ery OR *ata"]:
        assert three_sites(spark, docs, d, q, size=20), q
    evict_index(d)


def test_tombstones_after_delete_by_term(spark, docs, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("qs_driver_delete") / "idx")
    build_index(spark, docs, d, n_shards=4)
    warm_index(spark, d)
    assert delete_by_term(spark, d, "spark") > 0
    gone = {r["doc_id"] for r in tombstones(spark, d).collect()}
    for q in PERFBENCH_SHAPES + ["NOT query", "sp* OR data"]:
        got = three_sites(spark, docs, d, q, size=10_000)
        assert not {h[0] for h in got} & gone, q
    # a pure negative answers from the live docs only
    live = docs.count() - len(gone)
    assert len(three_sites(spark, docs, d, "NOT zzzq", size=10_000)) == live
    evict_index(d)


def test_every_doc_tombstoned(spark, docs, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("qs_driver_all_deleted") / "idx")
    build_index(spark, docs, d, n_shards=4)
    warm_index(spark, d)
    assert delete_ids(spark, d, docs.select("doc_id")) == docs.count()
    for q in ("spark AND quer*", "NOT spark", "*ata"):
        assert three_sites(spark, docs, d, q) == [], q
    evict_index(d)


def test_stop_stem_chain_index(spark, docs, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("qs_driver_chain") / "idx")
    build_index(spark, docs.select("doc_id", "text"), d, n_shards=4,
                analysis={"stopwords": "_english_", "stemmer": "minimal_english"})
    for q in ("the AND tables AND quer*", "tables OR NOT queries", "sparks^2 d?ta"):
        assert three_sites(spark, docs, d, q), q
    assert three_sites(spark, docs, d, "the AND a") == []  # every clause drops
    evict_index(d)


def test_match_bool_prefix_above_the_auto_knee(spark, docs, plain_idx, monkeypatch):
    """Above the auto knee ``match_bool_prefix`` is served on the driver
    too (the knee is lowered here; the fixture index is small)."""
    mbp = {"query": {"match_bool_prefix": {"text": "spark data que"}}, "size": 15}
    scan = rows(dsl.search(spark, docs, mbp, index_dir=plain_idx))
    monkeypatch.setattr(querystring, "INDEX_SERVE_MIN_DOCS", 0)
    warm_index(spark, plain_idx)
    served = dsl.search(spark, docs, mbp, index_dir=plain_idx)
    assert served.isLocal()  # the driver site's LocalRelation
    assert rows(served) == scan and scan


def test_keyword_range_phrase_fuzzy_leaves_take_the_spark_site(spark, docs, plain_idx):
    warm_index(spark, plain_idx)
    for q in ("spark AND lang:en", "spark n_chars:[100 TO 600]",
              '"query data" OR spark', "sparc~1 data"):
        tree = parse_query_string(q, "text", "or", text_field="text")
        out = execute_tree(spark, docs, tree, None, index_dir=plain_idx, serve="index")
        assert not out.isLocal(), q
        assert rows(out) == rows(execute_tree(
            spark, docs, tree, None, index_dir=plain_idx, serve="scan")), q


def test_warm_driver_site_job_counts(spark, docs, plain_idx):
    """A warm unfiltered tree submits no Spark job, a filtered one only
    the filter's id collect (the Spark index site submits 9 for
    either)."""
    warm_index(spark, plain_idx)
    plain, filtered = body("spark AND (query OR data)"), body(
        "spark AND quer*", filters=FILTERS)
    for b in (plain, filtered):  # first-call planning
        dsl.search(spark, docs, b, index_dir=plain_idx).collect()
    assert count_jobs(spark, "qs-driver-probe", lambda: dsl.search(
        spark, docs, plain, index_dir=plain_idx).collect()) == 0
    assert count_jobs(spark, "qs-driver-filter-probe", lambda: dsl.search(
        spark, docs, filtered, index_dir=plain_idx).collect()) == 1
