"""query_string: parser, occur-flag assignment, and DuckDB rank-identity."""

from __future__ import annotations

import duckdb
import pytest
from conftest import count_jobs
from pyspark.sql import functions as F

from es_loaders_spark import dsl
from es_loaders_spark.querystring import (
    MUST,
    MUST_NOT,
    SHOULD,
    Group,
    Leaf,
    parse_query_string,
    query_string_oracle_sql,
)


def occurs(q, default_operator="or"):
    g = parse_query_string(q, "text", default_operator)
    return [c.occur for c in g.clauses]


class TestParser:
    def test_default_or_bare_terms_are_should(self):
        assert occurs("a b c") == [SHOULD, SHOULD, SHOULD]

    def test_default_and_bare_terms_are_must(self):
        assert occurs("a b c", "and") == [MUST, MUST, MUST]

    def test_and_upgrades_previous_clause(self):
        # Lucene addClause: 'a AND b' makes BOTH must, even under OR default
        assert occurs("a AND b") == [MUST, MUST]
        assert occurs("a b AND c") == [SHOULD, MUST, MUST]

    def test_or_downgrades_previous_under_and_default(self):
        assert occurs("a OR b", "and") == [SHOULD, SHOULD]
        assert occurs("a b OR c", "and") == [MUST, SHOULD, SHOULD]

    def test_modifiers(self):
        assert occurs("+a -b c") == [MUST, MUST_NOT, SHOULD]
        assert occurs("NOT a b") == [MUST_NOT, SHOULD]
        assert occurs("a AND NOT b") == [MUST, MUST_NOT]

    def test_and_never_upgrades_prohibited(self):
        assert occurs("-a AND b") == [MUST_NOT, MUST]

    def test_boost_and_fields(self):
        g = parse_query_string('lang:en^2 "a b"^0.5', "text", "or")
        assert g.clauses[0].boost == 2.0 and g.clauses[1].boost == 0.5
        assert isinstance(g.clauses[0].node, Leaf)
        assert g.clauses[0].node.kind == "kwterm"
        assert g.clauses[1].node.kind == "phrase"

    def test_range_parse(self):
        g = parse_query_string("n:[1 TO 5} m:{* TO 2]", "text", "or")
        assert g.clauses[0].node.value == (1, 5, True, False)
        assert g.clauses[1].node.value == (None, 2, False, True)

    def test_nested_groups(self):
        g = parse_query_string("(a OR b) AND c", "text", "or")
        assert [c.occur for c in g.clauses] == [MUST, MUST]
        assert isinstance(g.clauses[0].node, Group)

    def test_shared_leaf_ids(self):
        from es_loaders_spark.querystring import _collect_leaves

        g = parse_query_string("a AND a", "text", "or")
        leaves = []
        _collect_leaves(g, leaves)
        assert len(leaves) == 1  # one column, two clauses

    def test_loud_rejections(self):
        # fuzzy (~) and embedded wildcards graduated to real leaves in
        # the r5 final wave — only still-unsupported shapes raise now
        for bad in (
            "a~3", "field:(a b)", "(a OR b",
            "a )", "a AND", "+", '""', "a:[1 TO]", "wild\\*card*",
        ):
            with pytest.raises(ValueError):
                parse_query_string(bad, "text", "or")

    def test_multi_token_term_rejected(self):
        with pytest.raises(ValueError, match="quote it"):
            parse_query_string("foo-bar", "text", "or")


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS "
        f"SELECT * FROM '{sf_dir}/documents.parquet'"
    )
    return con


QUERIES = [
    "spark AND merge",
    'spark OR "key order"^2',
    "(spark OR batch) AND NOT lang:zh",
    "index* -lang:de n_chars:[100 TO 300]",
    "+spark -merge source:src3",
    "NOT lang:en",
    "spark AND (merge OR sort) AND n_chars:{100 TO *]",
]


class TestRankIdentity:
    @pytest.mark.parametrize("q", QUERIES)
    def test_matches_duckdb(self, spark, documents, duck, q):
        body = {"query": {"query_string": {"query": q}}, "size": 15}
        got = [
            (r.doc_id, r.score)
            for r in dsl.search(spark, documents, body).collect()
        ]
        want = [
            (int(a), float(b))
            for a, b in duck.execute(query_string_oracle_sql(q, k=15)).fetchall()
        ]
        assert got == want, q

    def test_default_operator_and(self, spark, documents, duck):
        q = "spark merge OR sort"
        body = {
            "query": {"query_string": {"query": q, "default_operator": "and"}},
            "size": 15,
        }
        got = [
            (r.doc_id, r.score)
            for r in dsl.search(spark, documents, body).collect()
        ]
        want = [
            (int(a), float(b))
            for a, b in duck.execute(
                query_string_oracle_sql(q, k=15, default_operator="and")
            ).fetchall()
        ]
        assert got == want

    def test_filter_context_restricts_not_rescales(self, spark, documents):
        # scores under a bool.filter must equal the unfiltered scores for
        # the surviving docs (ES filter context: stats stay global)
        free = {"query": {"query_string": {"query": "spark merge"}}, "size": 500}
        allf = {
            r.doc_id: r.score
            for r in dsl.search(spark, documents, free).collect()
        }
        filt = {
            "query": {
                "bool": {
                    "must": [{"query_string": {"query": "spark merge"}}],
                    "filter": [{"term": {"lang": "en"}}],
                }
            },
            "size": 50,
        }
        out = dsl.search(spark, documents, filt).collect()
        assert out, "filtered query returned nothing"
        for r in out:
            assert allf[r.doc_id] == r.score

    def test_pure_negative_is_complement(self, spark, documents):
        n_en = documents.filter("lang = 'en'").count()
        n = documents.count()
        body = {"query": {"query_string": {"query": "NOT lang:en"}}, "size": 50000}
        assert dsl.search(spark, documents, body).count() == n - n_en

    def test_highlight_refused(self, spark, documents):
        body = {
            "query": {"query_string": {"query": "spark"}},
            "highlight": {"fields": {"text": {}}},
        }
        with pytest.raises(ValueError, match="highlight"):
            dsl.search(spark, documents, body)


def test_scan_inputs_build_stats_on_first_read(spark, documents, duck):
    """A reader of ``scan_inputs``' positions alone submits no Spark job
    before it collects them; ``stats``, built on first read, equals the
    long form's, and a query_string body that reads it keeps the
    oracle's scores."""
    from es_loaders_spark.postings import corpus_stats, doc_lengths, scan_inputs

    words = ["the", "data"]
    assert count_jobs(spark, "scan-inputs-positions-probe", lambda: scan_inputs(
        documents, phrase_words=words).positions) == 0
    si = scan_inputs(documents, terms=["spark"], phrase_words=words)
    terms = si.positions.select("term").distinct().collect()
    assert {r.term for r in terms} == set(words)
    assert si.stats == corpus_stats(doc_lengths(documents))

    q = 'spark OR "the data"^2'
    body = {"query": {"query_string": {"query": q}}, "size": 15}
    got = [(r.doc_id, r.score) for r in dsl.search(spark, documents, body).collect()]
    want = [(int(a), float(b))
            for a, b in duck.execute(query_string_oracle_sql(q, k=15)).fetchall()]
    assert got and got == want


# ---------- index-served execution (r5: the scale path) ----------

@pytest.fixture(scope="module")
def qs_index(spark, web_pages, tmp_path_factory):
    from pyspark.sql.window import Window

    from es_loaders_spark.build import build_index

    docs = (
        web_pages
        .withColumn("doc_id", F.row_number().over(Window.orderBy("url")) - 1)
        .select("doc_id", "url", "text",
                F.length("text").alias("n_chars"),
                F.lit("src3").alias("source"), "lang")
        .cache()
    )
    idx = str(tmp_path_factory.mktemp("qs") / "idx")
    build_index(spark, docs, idx, n_shards=4)
    return docs, idx


QS_FULL = ('(spark OR "key order")^2 AND crawl* -lang:zh '
           'source:src3^1.5 n_chars:[120 TO 4000]')


def test_index_served_equals_scan_path(spark, qs_index):
    from es_loaders_spark import dsl

    docs, idx = qs_index
    body = {"query": {"query_string": {"query": QS_FULL}}, "size": 15}
    scan = [(r.doc_id, r.score) for r in dsl.search(spark, docs, body).collect()]
    served = [(r.doc_id, r.score)
              for r in dsl.search(spark, docs, body, index_dir=idx).collect()]
    assert scan == served
    assert len(served) > 0


def test_index_served_plan_never_tokenizes_corpus(spark, qs_index):
    from es_loaders_spark.querystring import execute_tree, parse_query_string

    docs, idx = qs_index
    tree = parse_query_string(QS_FULL, "text", "or", text_field="text")
    plan = (
        # serve="index": the fixture corpus sits below the auto-crossover
        # knee (INDEX_SERVE_MIN_DOCS), where auto correctly picks scan
        execute_tree(spark, docs, tree, None, index_dir=idx, serve="index")
        ._jdf.queryExecution().optimizedPlan().toString()
    )
    # the scan path's signature operators: regexp tokenize + posexplode
    assert "split(" not in plan and "posexplode" not in plan
    # posting blocks are term-pushdown-pruned
    assert "StartsWith" in plan or "term#" in plan


def test_index_served_respects_tombstones(spark, qs_index):
    from es_loaders_spark import dsl
    from es_loaders_spark.deletes import delete_ids

    docs, idx = qs_index
    body = {"query": {"query_string": {"query": QS_FULL}}, "size": 15}
    before = [(r.doc_id, r.score)
              for r in dsl.search(spark, docs, body, index_dir=idx).collect()]
    victim = before[0][0]
    delete_ids(spark, idx, spark.createDataFrame([(victim,)], "doc_id long"))
    after = [(r.doc_id, r.score)
             for r in dsl.search(spark, docs, body, index_dir=idx).collect()]
    assert victim not in {d for d, _ in after}
    assert after[0] == before[1]  # next rank promoted, scores unchanged


def test_match_bool_prefix_index_served(spark, qs_index):
    from es_loaders_spark import dsl
    from es_loaders_spark.deletes import tombstones

    docs, idx = qs_index
    body = {"query": {"match_bool_prefix": {"text": "spark craw"}}, "size": 8}
    dead = {r.doc_id for r in (tombstones(spark, idx) or spark.createDataFrame(
        [], "doc_id long")).collect()}
    # scan path over the LIVE corpus == index-served (tombstones applied)
    live = docs.filter(~F.col("doc_id").isin(list(dead))) if dead else docs
    scan = [(r.doc_id, r.score) for r in dsl.search(spark, live, body).collect()]
    served = [(r.doc_id, r.score)
              for r in dsl.search(spark, docs, body, index_dir=idx).collect()]
    # scores can differ in idf (tombstones still count in index df until
    # compaction, like Lucene) — unless nothing was deleted; ids must
    # agree when no deleted doc was a contender
    if not dead:
        assert served == scan
    else:
        assert {d for d, _ in served} <= {d for d, _ in scan} | dead


# ---------- wildcard / fuzzy leaves (r5 final wave) ----------

WF_QUERIES = [
    "b?tch*",                     # embedded ? + trailing * on the text field
    "*atch spark",                # leading wildcard (dictionary scan)
    "batvh~ AND spark",           # fuzzy AUTO (1 edit for len 5)
    "batch~1 -lang:zh",           # explicit edits + keyword negation
    "merge~2 OR spark",           # wide fuzzy
    "lang:z? spark",              # wildcard on a keyword field
]


class TestWildcardFuzzy:
    @pytest.mark.parametrize("q", WF_QUERIES)
    def test_matches_duckdb(self, spark, documents, duck, q):
        body = {"query": {"query_string": {"query": q}}, "size": 15}
        got = [
            (r.doc_id, r.score)
            for r in dsl.search(spark, documents, body).collect()
        ]
        want = [
            (int(a), float(b))
            for a, b in duck.execute(query_string_oracle_sql(q, k=15)).fetchall()
        ]
        assert got == want, q
        assert len(got) > 0, q

    def test_parse_shapes(self):
        g = parse_query_string("b?tch* batvh~ merge~2 lang:z*", "text", "or")
        kinds = [c.node.kind for c in g.clauses]
        assert kinds == ["wildcard", "fuzzy", "fuzzy", "kwwild"]
        assert g.clauses[1].node.value == ("batvh", 1)  # AUTO for len 5
        assert g.clauses[2].node.value == ("merge", 2)

    def test_fuzzy_rejects_bad_edits(self):
        with pytest.raises(ValueError, match="0-2"):
            parse_query_string("spark~3", "text", "or")

    def test_index_served_parity(self, spark, web_pages, tmp_path):
        from pyspark.sql.window import Window

        from es_loaders_spark.build import build_index

        docs = (
            web_pages
            .withColumn("doc_id",
                        F.row_number().over(Window.orderBy("url")) - 1)
            .select("doc_id", "text", "lang")
            .cache()
        )
        idx = str(tmp_path / "wf_idx")
        build_index(spark, docs, idx, n_shards=4)
        for q in ("cr?wl*", "crawk~ AND spark", "spark OR inde~1"):
            body = {"query": {"query_string": {"query": q}}, "size": 15}
            scan = [(r.doc_id, r.score)
                    for r in dsl.search(spark, docs, body).collect()]
            served = [(r.doc_id, r.score)
                      for r in dsl.search(spark, docs, body,
                                          index_dir=idx).collect()]
            assert scan == served and len(scan) > 0, q


def test_count_index_served_matches_scan(spark, web_pages, tmp_path):
    from pyspark.sql.window import Window

    from es_loaders_spark.build import build_index
    from es_loaders_spark.deletes import delete_ids

    docs = (
        web_pages
        .withColumn("doc_id", F.row_number().over(Window.orderBy("url")) - 1)
        .select("doc_id", "text")
        .cache()
    )
    idx = str(tmp_path / "cnt_idx")
    build_index(spark, docs, idx, n_shards=4)
    bodies = [
        {"query": {"match": {"text": "spark crawl"}}},
        {"query": {"match": {"text": {"query": "spark crawl",
                                      "operator": "and"}}}},
    ]
    for body in bodies:
        scan = dsl.count(spark, docs, body).collect()[0].n
        served = dsl.count(spark, docs, body, index_dir=idx).collect()[0].n
        assert scan == served and scan > 0, body
    # tombstoning a matching doc reduces the served count immediately
    victim = dsl.search(spark, docs, {"query": {"match": {"text": "spark"}},
                                      "size": 1}, index_dir=idx).collect()[0].doc_id
    q = {"query": {"match": {"text": "spark"}}}
    before = dsl.count(spark, docs, q, index_dir=idx).collect()[0].n
    delete_ids(spark, idx, spark.createDataFrame([(int(victim),)], "doc_id long"))
    after = dsl.count(spark, docs, q, index_dir=idx).collect()[0].n
    assert after == before - 1


def test_auto_crossover_picks_scan_below_knee(spark, qs_index):
    """serve='auto' (default) over a small index scores from the scan
    path (plan shows tokenize operators), while serve='index' forces
    posting blocks — both rank-identical (r6 auto-crossover)."""
    from es_loaders_spark.querystring import (
        INDEX_SERVE_MIN_DOCS,
        execute_tree,
        parse_query_string,
    )
    from es_loaders_spark.build import load_stats

    docs, idx = qs_index
    assert int(load_stats(idx)["n_docs"]) < INDEX_SERVE_MIN_DOCS
    tree = parse_query_string(QS_FULL, "text", "or", text_field="text")
    auto_df = execute_tree(spark, docs, tree, None, index_dir=idx)
    plan = auto_df._jdf.queryExecution().optimizedPlan().toString()
    assert "split(" in plan or "posexplode" in plan  # scan side chosen
    forced = execute_tree(spark, docs, tree, None, index_dir=idx, serve="index")
    assert [(r.doc_id, r.score) for r in auto_df.collect()] == \
           [(r.doc_id, r.score) for r in forced.collect()]


def test_auto_crossover_scan_side_honors_tombstones(spark, qs_index, tmp_path):
    """The scan fallback must not resurrect docs the index deleted."""
    import shutil

    from es_loaders_spark import dsl
    from es_loaders_spark.build import build_index
    from es_loaders_spark.deletes import delete_ids
    from es_loaders_spark.wand import evict_index

    docs, _ = qs_index
    idx = str(tmp_path / "qs_tomb_idx")
    build_index(spark, docs, idx, n_shards=2)
    body = {"query": {"query_string": {"query": "spark"}}, "size": 10}
    before = [r.doc_id for r in dsl.search(spark, docs, body, index_dir=idx).collect()]
    assert before
    delete_ids(spark, idx, spark.createDataFrame([(before[0],)], "doc_id long"))
    after = [r.doc_id for r in dsl.search(spark, docs, body, index_dir=idx).collect()]
    assert before[0] not in after
    evict_index(idx)
    shutil.rmtree(idx, ignore_errors=True)


def test_querystring_over_chained_index(spark, qs_index, tmp_path):
    """r6 second wave: term/prefix leaves work over a chained index —
    term leaves chain-map, stopword clauses drop (Lucene query-time stop
    filter), multi-term leaves expand against the chained vocab; the
    index and scan sides stay rank-identical. Phrase leaves refuse."""
    import shutil

    import pytest as _pytest

    from es_loaders_spark import dsl
    from es_loaders_spark.build import build_index
    from es_loaders_spark.wand import evict_index

    docs, _ = qs_index
    idx = str(tmp_path / "qs_chain_idx")
    build_index(spark, docs, idx, n_shards=2,
                analysis={"stopwords": "_english_",
                          "stemmer": "minimal_english"})

    # stemmed term + dropped stopword clause + prefix expansion
    q = "the AND sparks AND crawl*"
    res = {}
    for mode in ("index", "scan"):
        body = {"query": {"query_string": {"query": q, "serve": mode}},
                "size": 15}
        res[mode] = [(r.doc_id, r.score)
                     for r in dsl.search(spark, docs, body, index_dir=idx).collect()]
    assert res["index"] == res["scan"] and res["index"]

    # all-stopword query → zero hits, no error (clauses all dropped)
    empty = dsl.search(
        spark, docs,
        {"query": {"query_string": {"query": "the AND a", "serve": "index"}},
         "size": 5},
        index_dir=idx,
    ).collect()
    assert empty == []

    # phrase leaves analyze through the chain (r6 third wave — this was
    # a loud refusal); index and scan sides agree over the web corpus
    ph = {}
    for mode in ("index", "scan"):
        ph[mode] = [(r.doc_id, r.score) for r in dsl.search(
            spark, docs,
            {"query": {"query_string": {"query": '"the key order"',
                                        "serve": mode}}, "size": 15},
            index_dir=idx,
        ).collect()]
    assert ph["index"] == ph["scan"]
    evict_index(idx)
    shutil.rmtree(idx, ignore_errors=True)
