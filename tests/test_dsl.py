"""ES Query-DSL adapter: the reference's EXACT query bodies run on Spark.

Each test feeds a body copied (shape-for-shape) from a reference call
site into dsl.search/count and checks it against the direct Catalyst
plan — a user of the reference keeps their Query-DSL JSON.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from es_loaders_spark import dsl


@pytest.fixture(scope="module")
def events(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/events.parquet").cache()


def test_term_filter_count(spark, events):
    """mira/elasticsearch.py:83-89 — count under bool.filter.term."""
    body = {"query": {"bool": {"filter": {"term": {"event_type": "error"}}}}}
    got = dsl.count(spark, events, body).first()["n"]
    want = events.filter(F.col("event_type") == "error").count()
    assert got == want > 0


def test_bool_must_term_and_range(spark, events):
    """mira/elasticsearch.py:104-124 — bool.filter.bool.must[term, range]."""
    lo = events.agg(F.avg("value")).first()[0]
    body = {
        "query": {
            "bool": {
                "filter": {
                    "bool": {
                        "must": [
                            {"term": {"event_type": "click"}},
                            {"range": {"value": {"gte": lo}}},
                        ]
                    }
                }
            }
        }
    }
    got = dsl.count(spark, events, body).first()["n"]
    want = events.filter(
        (F.col("event_type") == "click") & (F.col("value") >= lo)
    ).count()
    assert got == want > 0
    # exists-style consumption: hits.total.value > 0 (is_dashboard_loaded)
    assert dsl.search(spark, events, {**body, "size": 1}).count() == 1


def test_parallel_stats_aggs(spark, events):
    """mira/elasticsearch.py:15-42 — two stats aggs in one body/pass."""
    body = {
        "size": 0,
        "aggs": {
            "agg_stats_x": {"stats": {"field": "value"}},
            "agg_stats_y": {"stats": {"field": "user_id"}},
        },
    }
    row = dsl.search(spark, events, body).first()
    want = events.agg(
        F.min("value"), F.max("value"), F.avg("value"), F.count("value")
    ).first()
    assert row["agg_stats_x_min"] == want[0]
    assert row["agg_stats_x_max"] == want[1]
    assert abs(row["agg_stats_x_avg"] - want[2]) < 1e-9
    assert row["agg_stats_x_count"] == want[3]
    # the reference derives bin widths as (max-min)/100
    assert (row["agg_stats_x_max"] - row["agg_stats_x_min"]) / 100 > 0


def test_nested_histogram_terms_agg(spark, events):
    """mira/mira_loader.py:262-319 — histogram ▸ histogram ▸ terms(size=1):
    per 2-D bin doc count + categorical mode."""
    body = {
        "size": 0,
        "aggs": {
            "agg_histogram_x": {
                "histogram": {"field": "value", "interval": 10, "min_doc_count": 1},
                "aggs": {
                    "agg_histogram_y": {
                        "histogram": {"field": "user_id", "interval": 100,
                                      "min_doc_count": 1},
                        "aggs": {
                            "agg_cat": {"terms": {"field": "event_type", "size": 1}}
                        },
                    }
                },
            }
        },
    }
    got = {
        (r["agg_histogram_x_key"], r["agg_histogram_y_key"]): (
            r["event_type"], r["doc_count"]
        )
        for r in dsl.search(spark, events, body).collect()
    }
    from pyspark.sql.window import Window

    binned = events.select(
        (F.floor(F.col("value") / 10) * 10).alias("bx"),
        (F.floor(F.col("user_id") / 100) * 100).alias("by"),
        "event_type",
    )
    counted = binned.groupBy("bx", "by", "event_type").count()
    w = Window.partitionBy("bx", "by").orderBy(F.desc("count"), F.asc("event_type"))
    want = {
        (r["bx"], r["by"]): (r["event_type"], r["count"])
        for r in counted.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1).collect()
    }
    assert got == want and len(got) > 3


def test_sort_and_size(spark, events):
    """mira/elasticsearch.py:45-61 — full ordered retrieval, size-capped."""
    body = {"size": 7, "sort": [{"user_id": {"order": "asc"}}]}
    got = [r["user_id"] for r in dsl.search(spark, events, body).collect()]
    want = [r["user_id"] for r in events.orderBy("user_id").limit(7).collect()]
    assert got == want


def test_match_query_is_bm25(spark, documents):
    """ES default search semantics: match → BM25 ranking (SURVEY T3)."""
    from es_loaders_spark.bm25 import bm25_topk
    from es_loaders_spark.postings import (
        corpus_stats, doc_lengths, postings_long, term_df,
    )

    body = {"size": 10, "query": {"match": {"text": "spark query data"}}}
    got = [(r["doc_id"], r["score"]) for r in dsl.search(spark, documents, body).collect()]
    p, dl = postings_long(documents), doc_lengths(documents)
    want = [
        (r["doc_id"], r["score"])
        for r in bm25_topk(
            spark, p, dl, term_df(p), corpus_stats(dl), "spark query data", k=10
        ).collect()
    ]
    assert got == want


def test_match_phrase_rides_index(spark, documents, tmp_path_factory):
    from es_loaders_spark.build import build_index
    from es_loaders_spark.phrase import phrase_docs

    d = str(tmp_path_factory.mktemp("dsl_idx"))
    build_index(spark, documents, d, n_shards=2)
    body = {"size": 10000, "query": {"match_phrase": {"text": "the data"}}}
    got = {r["doc_id"] for r in dsl.search(spark, documents, body, index_dir=d).collect()}
    want = {r["doc_id"] for r in phrase_docs(spark, d, "the data").collect()}
    assert got == want and got


def test_should_and_must_not(spark, events):
    body = {
        "query": {
            "bool": {
                "should": [
                    {"term": {"event_type": "error"}},
                    {"term": {"event_type": "signup"}},
                ],
                "must_not": {"range": {"value": {"lt": 0}}},
            }
        }
    }
    got = dsl.count(spark, events, body).first()["n"]
    want = events.filter(
        F.col("event_type").isin(["error", "signup"]) & ~(F.col("value") < 0)
    ).count()
    assert got == want > 0


def test_multi_field_sort_primary_first(spark, events):
    """ADVICE r02: sort [{a: desc}, {b: asc}] must order by a FIRST
    (chained orderBy calls silently kept only the last field)."""
    body = {
        "size": 20,
        "sort": [{"event_type": {"order": "desc"}}, {"user_id": {"order": "asc"}}],
    }
    got = [
        (r["event_type"], r["user_id"])
        for r in dsl.search(spark, events, body).collect()
    ]
    want = [
        (r["event_type"], r["user_id"])
        for r in events.orderBy(F.desc("event_type"), F.asc("user_id"))
        .limit(20)
        .collect()
    ]
    assert got == want


def test_should_with_must_is_optional(spark, events):
    """ADVICE r02: ES defaults minimum_should_match to 0 when must/filter
    clauses are present — should becomes a scoring hint, not a filter."""
    body = {
        "query": {
            "bool": {
                "must": [{"range": {"value": {"gte": 0}}}],
                "should": [{"term": {"event_type": "error"}}],
            }
        }
    }
    got = dsl.count(spark, events, body).first()["n"]
    want = events.filter(F.col("value") >= 0).count()
    assert got == want > 0
    # explicit minimum_should_match=1 restores the conjunct
    body["query"]["bool"]["minimum_should_match"] = 1
    got1 = dsl.count(spark, events, body).first()["n"]
    want1 = events.filter(
        (F.col("value") >= 0) & (F.col("event_type") == "error")
    ).count()
    assert got1 == want1 < want


def test_minimum_should_match_n_of_m(spark, events):
    body = {
        "query": {
            "bool": {
                "should": [
                    {"term": {"event_type": "error"}},
                    {"range": {"value": {"gte": 50}}},
                    {"range": {"user_id": {"lt": 100}}},
                ],
                "minimum_should_match": 2,
            }
        }
    }
    got = dsl.count(spark, events, body).first()["n"]
    c1 = (F.col("event_type") == "error").cast("int")
    c2 = (F.col("value") >= 50).cast("int")
    c3 = (F.col("user_id") < 100).cast("int")
    want = events.filter((c1 + c2 + c3) >= 2).count()
    assert got == want > 0


def test_filtered_match_uses_global_stats(spark, documents):
    """ADVICE r02: filter context must NOT change idf/avgdl — stats come
    from the unfiltered corpus, the filter only restricts candidates
    (bm25_topk_filtered semantics)."""
    from es_loaders_spark.bm25 import bm25_topk
    from es_loaders_spark.postings import (
        corpus_stats, doc_lengths, postings_long, term_df,
    )

    body = {
        "size": 10,
        "query": {
            "bool": {
                "must": [{"match": {"text": "spark query data"}}],
                "filter": {"range": {"doc_id": {"lt": 400}}},
            }
        },
    }
    got = [
        (r["doc_id"], r["score"])
        for r in dsl.search(spark, documents, body).collect()
    ]
    p, dl = postings_long(documents), doc_lengths(documents)
    allowed = documents.filter(F.col("doc_id") < 400).select("doc_id")
    want = [
        (r["doc_id"], r["score"])
        for r in bm25_topk(
            spark,
            p.join(allowed, "doc_id", "left_semi"),
            dl,
            term_df(p),
            corpus_stats(dl),
            "spark query data",
            k=10,
        ).collect()
    ]
    assert got == want and all(d < 400 for d, _ in got) and got


def test_delete_by_query_reference_body(spark, documents, tmp_path_factory):
    """The reference's verbatim delete body (mira/elasticsearch.py:261-274
    fill_base_query: bool.filter.term + refresh) through the adapter."""
    from es_loaders_spark.build import build_index
    from es_loaders_spark.wand import topk

    d = str(tmp_path_factory.mktemp("dsl_del"))
    docs = documents.withColumn(
        "dashboard_id", F.when(F.col("doc_id") % 3 == 0, "dash-A").otherwise("dash-B")
    )
    build_index(spark, docs, d, n_shards=2)
    body = {"query": {"bool": {"filter": {"term": {"dashboard_id": "dash-A"}}}}}
    n = dsl.delete_by_query(spark, d, body, docs=docs)
    want_deleted = docs.filter(F.col("dashboard_id") == "dash-A").count()
    assert n == want_deleted > 0
    hits = {r["doc_id"] for r in topk(spark, d, "the data scan", k=100).collect()}
    assert hits and all(h % 3 != 0 for h in hits)


def test_delete_by_query_text_term_index_served(spark, documents, tmp_path_factory):
    """A term filter on the text field resolves FROM THE INDEX — no
    documents table needed (deletes.delete_by_term underneath)."""
    from es_loaders_spark.build import build_index
    from es_loaders_spark.postings import postings_long
    from es_loaders_spark.wand import topk

    d = str(tmp_path_factory.mktemp("dsl_del_term"))
    build_index(spark, documents, d, n_shards=2)
    body = {"query": {"term": {"text": "spark"}}}
    n = dsl.delete_by_query(spark, d, body)  # no docs= needed
    want = (
        postings_long(documents).filter(F.col("term") == "spark")
        .select("doc_id").distinct().count()
    )
    assert n == want > 0
    hits = {r["doc_id"] for r in topk(spark, d, "spark", k=50).collect()}
    assert not hits


def test_ids_prefix_wildcard_clauses(spark, documents):
    """Standard ES leaf clauses beyond the reference's own bodies:
    ids (≙ doc_id), prefix, wildcard (* / ? translated to LIKE with
    metacharacter escaping)."""
    got = {
        r["doc_id"]
        for r in dsl.search(
            spark, documents, {"query": {"ids": {"values": [1, 5, 9]}}, "size": 10}
        ).collect()
    }
    assert got == {1, 5, 9}

    lang0 = documents.first()["lang"]
    pre = dsl.search(
        spark, documents,
        {"query": {"prefix": {"lang": lang0[:1]}}, "size": 100000},
    ).count()
    want_pre = documents.filter(F.col("lang").startswith(lang0[:1])).count()
    assert pre == want_pre > 0

    wc = dsl.search(
        spark, documents,
        {"query": {"wildcard": {"lang": f"{lang0[:1]}*"}}, "size": 100000},
    ).count()
    assert wc == want_pre
    # ? = exactly one char
    q1 = dsl.search(
        spark, documents,
        {"query": {"wildcard": {"lang": "?" * len(lang0)}}, "size": 100000},
    ).count()
    want_q1 = documents.filter(F.length("lang") == len(lang0)).count()
    assert q1 == want_q1 > 0


def test_from_size_pagination_and_source(spark, documents):
    """ES from/size pagination under a sort + _source projection: pages
    tile the sorted stream without overlap."""
    body = {"sort": [{"doc_id": {"order": "asc"}}], "size": 5, "_source": ["doc_id"]}
    page1 = [r["doc_id"] for r in dsl.search(spark, documents, body).collect()]
    page2 = [
        r["doc_id"]
        for r in dsl.search(spark, documents, {**body, "from": 5}).collect()
    ]
    all_ids = sorted(r["doc_id"] for r in documents.select("doc_id").collect())
    assert page1 == all_ids[:5]
    assert page2 == all_ids[5:10]
    cols = dsl.search(spark, documents, body).columns
    assert cols == ["doc_id"]


def test_ids_clause_respects_id_col(spark, documents):
    """ids must resolve against the configured id column, not a
    hard-coded doc_id (ADVICE r03 #2)."""
    renamed = documents.withColumnRenamed("doc_id", "page_id")
    got = {
        r["page_id"]
        for r in dsl.search(
            spark, renamed,
            {"query": {"ids": {"values": [2, 4]}}, "size": 10},
            id_col="page_id",
        ).collect()
    }
    assert got == {2, 4}


def test_search_after_arity_mismatch_rejected(spark, documents):
    """ES rejects search_after whose length differs from the sort key
    count; a silent zip-truncate would overlap pages (ADVICE r03 #3)."""
    body = {
        "sort": [{"lang": {"order": "asc"}}, {"doc_id": {"order": "desc"}}],
        "search_after": ["en"],  # one value, two sort keys
        "size": 5,
    }
    with pytest.raises(ValueError, match="search_after"):
        dsl.search(spark, documents, body)


def test_search_after_keyset_pagination(spark, documents):
    """search_after tiles the sorted stream exactly like from/size but as
    a sort-key predicate (multi-field sort incl. a desc tie-breaker)."""
    body = {
        "sort": [{"lang": {"order": "asc"}}, {"doc_id": {"order": "desc"}}],
        "size": 7,
    }
    rows = dsl.search(spark, documents, {**body, "size": 14}).collect()
    first = dsl.search(spark, documents, body).collect()
    last = first[-1]
    nxt = dsl.search(
        spark, documents, {**body, "search_after": [last["lang"], last["doc_id"]]}
    ).collect()
    got = [(r["lang"], r["doc_id"]) for r in first + nxt]
    want = [(r["lang"], r["doc_id"]) for r in rows]
    assert got == want


def test_metric_aggs_and_cardinality(spark, events):
    """Single-metric aggs (avg/sum/min/max/value_count/cardinality) —
    standard ES metric aggregations."""
    got = dsl.search(spark, events, {"aggs": {"a": {"avg": {"field": "value"}}}}).first()["value"]
    want = events.agg(F.avg("value")).first()[0]
    assert abs(got - want) < 1e-9

    got = dsl.search(
        spark, events, {"aggs": {"c": {"cardinality": {"field": "event_type"}}}}
    ).first()["value"]
    want = events.select("event_type").distinct().count()
    assert got == want

    got = dsl.search(
        spark, events,
        {"query": {"term": {"event_type": "click"}},
         "aggs": {"n": {"value_count": {"field": "event_id"}}}},
    ).first()["value"]
    want = events.filter(F.col("event_type") == "click").count()
    assert got == want


def test_date_histogram_agg(spark, events):
    """ES date_histogram (calendar_interval: day) → date_trunc buckets,
    with a nested terms sub-agg like the reference's histogram nesting."""
    out = dsl.search(
        spark, events,
        {"aggs": {"by_day": {"date_histogram": {"field": "ts", "calendar_interval": "day"}}}},
    )
    got = {(r["by_day_key"], r["doc_count"]) for r in out.collect()}
    want = {
        (r["k"], r["n"])
        for r in events.groupBy(F.date_trunc("day", "ts").alias("k"))
        .agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert got == want and len(got) > 1

    nested = dsl.search(
        spark, events,
        {"aggs": {"by_day": {
            "date_histogram": {"field": "ts", "calendar_interval": "day"},
            "aggs": {"top_type": {"terms": {"field": "event_type", "size": 1}}},
        }}},
    )
    rows = nested.collect()
    assert len(rows) == len(want)  # one winner per day bucket
    assert set(nested.columns) == {"by_day_key", "event_type", "doc_count"}


def test_must_not_includes_null_field_rows(spark):
    """ES: must_not matches docs whose field is missing/NULL (the clause
    can't match there). Spark's three-valued NOT must not drop them."""
    df = spark.createDataFrame(
        [(1, "x"), (2, "y"), (3, None)], "id long, category string"
    )
    got = {
        r["id"]
        for r in dsl.search(
            spark, df,
            {"query": {"bool": {"must_not": {"term": {"category": "x"}}}}, "size": 10},
        ).collect()
    }
    assert got == {2, 3}  # NULL row included, as in ES


def test_minimum_should_match_null_clause_not_poisoned(spark):
    """A should clause over a NULL field counts as 0, not NULL."""
    df = spark.createDataFrame(
        [(1, None, 2, 3), (2, 1, 9, 9)], "id long, a long, b long, c long"
    )
    body = {
        "query": {"bool": {
            "should": [{"term": {"a": 1}}, {"term": {"b": 2}}, {"term": {"c": 3}}],
            "minimum_should_match": 2,
        }},
        "size": 10,
    }
    got = {r["id"] for r in dsl.search(spark, df, body).collect()}
    assert got == {1}  # row 1: b,c match (a NULL→0); row 2: only a matches


def test_wildcard_escaped_literals(spark):
    r"""ES \* and \? are literal; LIKE metacharacters in data don't act."""
    df = spark.createDataFrame(
        [(1, "a*b"), (2, "axb"), (3, "a%b"), (4, "aXb")], "id long, s string"
    )
    got = {r["id"] for r in dsl.search(
        spark, df, {"query": {"wildcard": {"s": "a\\*b"}}, "size": 10}).collect()}
    assert got == {1}  # escaped * is literal
    got = {r["id"] for r in dsl.search(
        spark, df, {"query": {"wildcard": {"s": "a%b"}}, "size": 10}).collect()}
    assert got == {3}  # % in the pattern is literal, not LIKE-any
    got = {r["id"] for r in dsl.search(
        spark, df, {"query": {"wildcard": {"s": "a?b"}}, "size": 10}).collect()}
    assert got == {1, 2, 3, 4}  # ? matches any single char


def test_match_respects_from_and_source(spark, documents):
    """BM25 page 2 = ranked hits [5, 10) with _source projection."""
    full = dsl.search(
        spark, documents, {"query": {"match": {"text": "spark data"}}, "size": 10}
    ).collect()
    page2 = dsl.search(
        spark, documents,
        {"query": {"match": {"text": "spark data"}}, "from": 5, "size": 5,
         "_source": ["doc_id"]},
    ).collect()
    assert [r["doc_id"] for r in page2] == [r["doc_id"] for r in full[5:]]
    assert list(page2[0].asDict()) == ["doc_id"]


def test_match_with_sort_raises(spark, documents):
    with pytest.raises(ValueError, match="sort"):
        dsl.search(
            spark, documents,
            {"query": {"match": {"text": "spark"}}, "sort": [{"doc_id": "asc"}]},
        )


def test_metric_sub_agg_respects_buckets(spark, events):
    """A metric sub-agg nested under date_histogram aggregates PER
    BUCKET (was: collapsed to one global row, bucket key dropped)."""
    out = dsl.search(
        spark, events,
        {"aggs": {"by_day": {
            "date_histogram": {"field": "ts", "calendar_interval": "day"},
            "aggs": {"m": {"avg": {"field": "value"}}},
        }}},
    )
    got = {(r["by_day_key"], round(r["value"], 6), r["doc_count"]) for r in out.collect()}
    want = {
        (r["k"], round(r["v"], 6), r["n"])
        for r in events.groupBy(F.date_trunc("day", "ts").alias("k"))
        .agg(F.avg("value").alias("v"), F.count(F.lit(1)).alias("n")).collect()
    }
    # ES always reports per-bucket doc_count next to metric sub-aggs
    assert got == want and len(got) > 1


def test_sibling_metric_aggs_one_pass(spark, events):
    """Two sibling metric aggs in one body → one row with name-prefixed
    values (was: ValueError unpack crash)."""
    row = dsl.search(
        spark, events,
        {"aggs": {"a": {"avg": {"field": "value"}}, "b": {"max": {"field": "value"}}}},
    ).first()
    want_a = events.agg(F.avg("value")).first()[0]
    want_b = events.agg(F.max("value")).first()[0]
    assert abs(row["a_value"] - want_a) < 1e-9 and row["b_value"] == want_b


def test_wildcard_backslash_escapes_any_char(spark):
    r"""Lucene WILDCARD_ESCAPE: \x is literal x for ANY x (incl. %)."""
    df = spark.createDataFrame(
        [(1, "a%b"), (2, "a\\%b"), (3, "axb")], "id long, s string"
    )
    got = {r["id"] for r in dsl.search(
        spark, df, {"query": {"wildcard": {"s": "a\\%b"}}, "size": 10}).collect()}
    assert got == {1}  # escaped % = literal percent, no backslash retained


def test_match_source_with_document_fields(spark, documents):
    """_source naming real document fields on a match query joins them
    back in relevance order (was: AnalysisException)."""
    rows = dsl.search(
        spark, documents,
        {"query": {"match": {"text": "spark data"}}, "size": 5,
         "_source": ["doc_id", "lang"]},
    ).collect()
    ranked = dsl.search(
        spark, documents, {"query": {"match": {"text": "spark data"}}, "size": 5}
    ).collect()
    assert [r["doc_id"] for r in rows] == [r["doc_id"] for r in ranked]
    assert set(rows[0].asDict()) == {"doc_id", "lang"}


def test_regexp_is_anchored(spark):
    """ES regexp matches the WHOLE value (Lucene has no ^/$ operators);
    top-level alternation must not escape the anchors."""
    df = spark.createDataFrame(
        [(1, "error"), (2, "error_log"), (3, "xerror"), (4, "warn")],
        "id long, s string",
    )
    got = {r["id"] for r in dsl.search(
        spark, df, {"query": {"regexp": {"s": "err.*"}}, "size": 10}).collect()}
    assert got == {1, 2}  # NOT 3: anchored at the start too
    got = {r["id"] for r in dsl.search(
        spark, df, {"query": {"regexp": {"s": "error|warn"}}, "size": 10}).collect()}
    assert got == {1, 4}  # alternation stays inside the anchors


def test_fuzzy_auto_and_explicit(spark):
    df = spark.createDataFrame(
        [(1, "spark"), (2, "sp班rk"), (3, "sparkle"), (4, "zzzzz"), (5, None)],
        "id long, s string",
    )
    # AUTO for a 5-char term = distance 1
    body = {"query": {"fuzzy": {"s": {"value": "spark"}}}, "size": 10}
    got = {r["id"] for r in dsl.search(spark, df, body).collect()}
    assert got == {1, 2}  # sparkle is distance 2; NULL row doesn't match
    body = {"query": {"fuzzy": {"s": {"value": "spark", "fuzziness": 2}}}, "size": 10}
    got = {r["id"] for r in dsl.search(spark, df, body).collect()}
    assert got == {1, 2, 3}


def test_multi_match_best_fields(spark):
    """multi_match (default best_fields) = max of the per-field BM25
    scores, per-field statistics — checked against single-field match."""
    rows = [
        (0, "spark shuffle join", "introduction page"),
        (1, "the quick brown fox", "spark spark spark"),
        (2, "spark", "spark tuning guide"),
        (3, "unrelated text here", "nothing relevant"),
        (4, "shuffle partitions", "spark shuffle internals"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, title string, body string")
    got = dsl.search(
        spark, df,
        {"query": {"multi_match": {"query": "spark shuffle",
                                   "fields": ["title", "body"]}}, "size": 3},
        text_col="title",
    ).collect()
    per_field = {}
    for fld in ("title", "body"):
        for r in dsl.search(
            spark, df, {"query": {"match": {fld: "spark shuffle"}}, "size": 5},
            text_col=fld,
        ).collect():
            per_field[r["doc_id"]] = max(per_field.get(r["doc_id"], 0.0), r["score"])
    want = sorted(per_field.items(), key=lambda kv: (-kv[1], kv[0]))[:3]
    assert [(r["doc_id"], r["score"]) for r in got] == want


def test_multi_match_with_filter_and_unsupported_type(spark):
    df = spark.createDataFrame(
        [(0, "spark docs", "a", "en"), (1, "spark docs", "b", "de")],
        "doc_id long, title string, body string, lang string",
    )
    got = dsl.search(
        spark, df,
        {"query": {"bool": {
            "must": [{"multi_match": {"query": "spark", "fields": ["title", "body"]}}],
            "filter": [{"term": {"lang": "en"}}]}}, "size": 5},
    ).collect()
    assert [r["doc_id"] for r in got] == [0]
    with pytest.raises(ValueError, match="best_fields only"):
        dsl.search(spark, df, {"query": {"multi_match": {
            "query": "spark", "fields": ["title"], "type": "phrase"}}})


def test_match_scores_the_named_field(spark):
    """ES `match` scores the field NAMED in the clause — previously the
    clause's field was ignored and the engine's text_col scored."""
    df = spark.createDataFrame(
        [(0, "spark tuning", "cooking pasta"), (1, "cooking pasta", "spark tuning")],
        "doc_id long, title string, body string",
    )
    hits = dsl.search(
        spark, df, {"query": {"match": {"title": "spark"}}, "size": 5}
    ).collect()
    assert [r["doc_id"] for r in hits] == [0]
    hits = dsl.search(
        spark, df, {"query": {"match": {"body": "spark"}}, "size": 5}
    ).collect()
    assert [r["doc_id"] for r in hits] == [1]


def test_percentiles_exact_linear(spark, events):
    """percentiles (exact path) = numpy linear interpolation."""
    import numpy as np

    row = dsl.search(
        spark, events,
        {"aggs": {"v": {"percentiles": {"field": "value",
                                        "percents": [50, 95, 99.9]}}}},
    ).first()
    vals = np.array([r["value"] for r in events.select("value").collect()])
    assert abs(row["p50"] - np.percentile(vals, 50)) < 1e-9
    assert abs(row["p95"] - np.percentile(vals, 95)) < 1e-9
    assert abs(row["p99_9"] - np.percentile(vals, 99.9)) < 1e-9


def test_percentiles_sibling_and_approx(spark, events):
    row = dsl.search(
        spark, events,
        {"aggs": {
            "a": {"percentiles": {"field": "value", "percents": [50], "approx": True}},
            "b": {"avg": {"field": "value"}},
        }},
    ).first()
    import numpy as np

    vals = np.array([r["value"] for r in events.select("value").collect()])
    assert abs(row["a_p50"] - np.percentile(vals, 50)) < abs(np.percentile(vals, 60))
    assert abs(row["b_value"] - vals.mean()) < 1e-9


def test_top_hits_under_terms(spark, events):
    """top_hits nested under a terms bucket: N example docs per bucket,
    ordered by the sort, bucket keys carried on every row."""
    out = dsl.search(
        spark, events,
        {"aggs": {"types": {"terms": {"field": "event_type", "size": 3},
                            "aggs": {"ex": {"top_hits": {
                                "size": 2,
                                "sort": [{"value": {"order": "desc"}}],
                                "_source": ["event_id", "value"]}}}}}},
    )
    rows = out.collect()
    assert set(out.columns) == {"event_type", "event_id", "value"}
    by_type = {}
    for r in rows:
        by_type.setdefault(r["event_type"], []).append(r["value"])
    assert all(len(v) <= 2 for v in by_type.values())
    for et, got_vals in by_type.items():
        want = [r["value"] for r in events.filter(F.col("event_type") == et)
                .orderBy(F.desc("value")).limit(2).collect()]
        assert got_vals == want


def test_range_agg_overlap_and_bounds(spark, events):
    """ES range agg: from inclusive, to exclusive, ranges independent —
    a doc in the 50-60 overlap lands in BOTH buckets."""
    body = {
        "size": 0,
        "aggs": {
            "vr": {
                "range": {
                    "field": "value",
                    "ranges": [{"to": 20}, {"from": 20, "to": 60}, {"from": 50}],
                }
            }
        },
    }
    got = {
        r["vr_key"]: r["doc_count"]
        for r in dsl.search(spark, events, body, id_col="event_id").collect()
    }
    lo = events.filter(F.col("value") < 20).count()
    mid = events.filter((F.col("value") >= 20) & (F.col("value") < 60)).count()
    hi = events.filter(F.col("value") >= 50).count()
    assert got == {"*-20": lo, "20-60": mid, "50-*": hi}
    # overlap really double-counts: bucket totals exceed the table size
    assert sum(got.values()) > events.count()


def test_range_agg_explicit_key_and_sub_agg(spark, events):
    body = {
        "size": 0,
        "aggs": {
            "vr": {
                "range": {"field": "value", "ranges": [{"key": "small", "to": 30}]},
                "aggs": {"m": {"max": {"field": "value"}}},
            }
        },
    }
    row, = dsl.search(spark, events, body, id_col="event_id").collect()
    assert row["vr_key"] == "small"
    want = events.filter(F.col("value") < 30)
    assert row["doc_count"] == want.count()
    assert row["value"] == want.agg(F.max("value")).first()[0]


def test_filters_agg_with_sub_agg(spark, events):
    """ES filters agg: named overlapping buckets + per-bucket metric."""
    body = {
        "size": 0,
        "aggs": {
            "by": {
                "filters": {
                    "filters": {
                        "clicks": {"term": {"event_type": "click"}},
                        "big": {"range": {"value": {"gte": 90}}},
                    }
                },
                "aggs": {"m": {"avg": {"field": "value"}}},
            }
        },
    }
    got = {
        r["by_key"]: (r["doc_count"], r["value"])
        for r in dsl.search(spark, events, body, id_col="event_id").collect()
    }
    clicks = events.filter(F.col("event_type") == "click")
    big = events.filter(F.col("value") >= 90)
    assert got["clicks"][0] == clicks.count()
    assert got["big"][0] == big.count()
    assert got["clicks"][1] == pytest.approx(clicks.agg(F.avg("value")).first()[0])
    assert got["big"][1] == pytest.approx(big.agg(F.avg("value")).first()[0])


def test_significant_terms_keyword_field(spark, documents):
    """Keyword-mode significant_terms: `source` values over-represented
    in the short-docs foreground; every JLH invariant checked against a
    direct computation."""
    body = {
        "size": 0,
        "query": {"range": {"n_chars": {"lt": 200}}},
        "aggs": {
            "sig": {"significant_terms": {"field": "source", "size": 5,
                                          "min_doc_count": 1}}
        },
    }
    rows = dsl.search(spark, documents, body).collect()
    assert rows, "foreground should surface at least one source"
    fg_tot = documents.filter(F.col("n_chars") < 200).count()
    bg_tot = documents.count()
    for r in rows:
        fgp, bgp = r["doc_count"] / fg_tot, r["bg_count"] / bg_tot
        assert fgp > bgp  # ES keeps only over-represented terms
        assert r["score"] == pytest.approx((fgp - bgp) * (fgp / bgp), abs=1e-6)
    scores = [r["score"] for r in rows]
    assert scores == sorted(scores, reverse=True)


def test_significant_terms_requires_search_context(spark, documents):
    """Direct _aggs without a background table must refuse rather than
    silently contrast against nothing; nesting under buckets refuses."""
    with pytest.raises(ValueError, match="background"):
        dsl._aggs(documents, {"s": {"significant_terms": {"field": "lang"}}})
    body = {
        "size": 0,
        "aggs": {
            "h": {
                "histogram": {"field": "n_chars", "interval": 100},
                "aggs": {"s": {"significant_terms": {"field": "lang"}}},
            }
        },
    }
    with pytest.raises(ValueError, match="bucketing"):
        dsl.search(spark, documents, body)


def test_multi_match_field_boost(spark):
    """ES `title^2` boost: the field's BM25 score doubles before the
    best-field max; ordering within a field is unchanged."""
    rows = [
        (0, "spark shuffle merge", "spark spark spark plan"),
        (1, "spark plan", "shuffle merge"),
        (2, "merge merge", "spark plan shuffle"),
        (3, "plan", "plan"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, title string, body string")
    plain = {
        r["doc_id"]: r["score"]
        for r in dsl.search(
            spark, docs,
            {"query": {"multi_match": {"query": "spark shuffle",
                                       "fields": ["title", "body"]}}, "size": 4},
        ).collect()
    }
    boosted = {
        r["doc_id"]: r["score"]
        for r in dsl.search(
            spark, docs,
            {"query": {"multi_match": {"query": "spark shuffle",
                                       "fields": ["title^2", "body"]}}, "size": 4},
        ).collect()
    }
    # per-doc: boosted best = max(2*title_score, body_score); compute the
    # per-field scores directly to check
    t = {
        r["doc_id"]: r["score"]
        for r in dsl.search(
            spark, docs,
            {"query": {"multi_match": {"query": "spark shuffle",
                                       "fields": ["title"]}}, "size": 4},
        ).collect()
    }
    b = {
        r["doc_id"]: r["score"]
        for r in dsl.search(
            spark, docs,
            {"query": {"multi_match": {"query": "spark shuffle",
                                       "fields": ["body"]}}, "size": 4},
        ).collect()
    }
    for d in plain:
        want = max(round(round(t.get(d, 0.0) * 2, 4), 4), b.get(d, 0.0))
        assert boosted[d] == pytest.approx(want, abs=2e-4), d
    with pytest.raises(ValueError, match="tie_breaker"):
        dsl.search(
            spark, docs,
            {"query": {"multi_match": {"query": "x", "fields": ["title"],
                                       "tie_breaker": 0.3}}},
        )


def test_match_operator_and(spark, documents):
    """ES match operator=and: conjunctive candidates, identical scores."""
    body_or = {"query": {"match": {"text": "spark stream"}}, "size": 400}
    body_and = {
        "query": {"match": {"text": {"query": "spark stream",
                                     "operator": "and"}}},
        "size": 400,
    }
    got_or = {r["doc_id"]: r["score"]
              for r in dsl.search(spark, documents, body_or).collect()}
    got_and = {r["doc_id"]: r["score"]
               for r in dsl.search(spark, documents, body_and).collect()}
    assert set(got_and) <= set(got_or) and got_and
    # every and-doc contains BOTH terms
    from es_loaders_spark.analyze import tokens_df

    toks = tokens_df(documents)
    both = {
        r["doc_id"]
        for r in toks.filter(F.col("term").isin(["spark", "stream"]))
        .groupBy("doc_id").agg(F.count_distinct("term").alias("n"))
        .filter(F.col("n") == 2).collect()
    }
    assert set(got_and) <= both
    for d, s in got_and.items():
        assert s == got_or[d]
    # a term missing from the corpus matches nothing under AND
    none = dsl.search(
        spark, documents,
        {"query": {"match": {"text": {"query": "spark zzznope",
                                      "operator": "and"}}}, "size": 10},
    )
    assert none.count() == 0
    with pytest.raises(ValueError, match="operator"):
        dsl.search(
            spark, documents,
            {"query": {"match": {"text": {"query": "x", "operator": "xor"}}}},
        )


def test_explain_reconstructs_search_score(spark, documents):
    """round(sum(weight),4) of the explain rows == the search score; only
    terms PRESENT in the doc appear."""
    body = {"query": {"match": {"text": "spark query data table"}}, "size": 5}
    top = dsl.search(spark, documents, body).collect()
    assert top
    d, want = top[0]["doc_id"], top[0]["score"]
    rows = dsl.explain(spark, documents, d, body).collect()
    assert rows
    got = round(sum(r["weight"] for r in rows), 4)
    assert got == pytest.approx(want, abs=2e-3)
    from es_loaders_spark.analyze import tokens_df

    present = {
        r["term"]
        for r in tokens_df(documents).filter(F.col("doc_id") == d)
        .select("term").distinct().collect()
    }
    assert {r["term"] for r in rows} <= present
    for r in rows:
        assert r["weight"] == pytest.approx(r["idf"] * r["tf_norm"], abs=1e-3)
    with pytest.raises(ValueError, match="scoring clause"):
        dsl.explain(spark, documents, d, {"query": {"term": {"lang": "en"}}})


def test_simple_query_string_operators(spark, documents):
    """+required / -excluded / "phrase" / prefix* each restrict the
    candidate set; scores equal the plain match scores for survivors."""
    from es_loaders_spark.analyze import tokens_df

    body = {
        "query": {"simple_query_string": {"query": 'spark +stream -merge "the data"'}},
        "size": 500,
    }
    got = {r["doc_id"]: r["score"]
           for r in dsl.search(spark, documents, body).collect()}
    assert got
    toks = tokens_df(documents)
    has = lambda t: {  # noqa: E731
        r["doc_id"] for r in toks.filter(F.col("term") == t)
        .select("doc_id").distinct().collect()
    }
    a = toks.filter(F.col("term") == "the").select("doc_id", F.col("pos").alias("p"))
    b = toks.filter(F.col("term") == "data").select("doc_id", (F.col("pos") - 1).alias("p"))
    phrase = {r["doc_id"] for r in a.join(b, ["doc_id", "p"]).select("doc_id").distinct().collect()}
    want_ids = (has("stream") - has("merge")) & phrase
    # candidates also need a scoring-term hit to appear (spark or stream)
    assert set(got) == {d for d in want_ids if d in (has("spark") | has("stream"))}
    # scores match the unrestricted match query for the same docs
    plain = {r["doc_id"]: r["score"] for r in dsl.search(
        spark, documents,
        {"query": {"match": {"text": "spark stream"}}, "size": 50000},
    ).collect()}
    for d, s in got.items():
        assert s == plain[d]


def test_simple_query_string_default_operator_and(spark, documents):
    body_and = {
        "query": {"simple_query_string": {"query": "spark stream",
                                          "default_operator": "and"}},
        "size": 500,
    }
    body_plus = {
        "query": {"simple_query_string": {"query": "+spark +stream"}},
        "size": 500,
    }
    got_and = {r["doc_id"] for r in dsl.search(spark, documents, body_and).collect()}
    got_plus = {r["doc_id"] for r in dsl.search(spark, documents, body_plus).collect()}
    assert got_and == got_plus and got_and


def test_simple_query_string_filter_only_and_errors(spark, documents):
    rows = dsl.search(
        spark, documents,
        {"query": {"simple_query_string": {"query": '"the data"'}}, "size": 5},
    ).collect()
    ids = [r["doc_id"] for r in rows]
    assert ids == sorted(ids) and rows  # doc_id paging order
    assert "score" not in rows[0].asDict()
    for bad in ('-"the data"', "a | b", "(a b)", "-pre*", "term~2"):
        with pytest.raises(ValueError):
            dsl.search(
                spark, documents,
                {"query": {"simple_query_string": {"query": bad}}},
            )


def test_simple_query_string_prefix_uses_index(spark, documents, tmp_path_factory):
    """With an index, prefix candidates come from expand_prefix (term
    dictionary) — results identical to the scan path."""
    from es_loaders_spark.build import build_index

    d = str(tmp_path_factory.mktemp("sqs_idx"))
    build_index(spark, documents, d, n_shards=2)
    body = {"query": {"simple_query_string": {"query": "spark quer*"}}, "size": 500}
    scan = {r["doc_id"]: r["score"] for r in dsl.search(spark, documents, body).collect()}
    idx = {r["doc_id"]: r["score"]
           for r in dsl.search(spark, documents, body, index_dir=d).collect()}
    assert scan == idx and scan


def test_simple_query_string_candidate_base(spark, documents, tmp_path_factory):
    """A body with no scoring term returns EVERY doc it admits: the
    candidates start from all docs with a token, and an exclusion, a
    prefix or a phrase only narrows them — same doc-id set with and
    without an index, equal to a tokens_df reference."""
    from es_loaders_spark.analyze import tokens_df
    from es_loaders_spark.build import build_index

    d = str(tmp_path_factory.mktemp("sqs_base_idx"))
    build_index(spark, documents, d, n_shards=2)
    toks = tokens_df(documents)

    def ids(rel):
        return {r["doc_id"] for r in rel.select("doc_id").distinct().collect()}

    a = toks.filter(F.col("term") == "the").select("doc_id", F.col("pos").alias("p"))
    b = toks.filter(F.col("term") == "data").select(
        "doc_id", (F.col("pos") - 1).alias("p"))
    want = {
        "-merge": ids(toks) - ids(toks.filter(F.col("term") == "merge")),
        "quer*": ids(toks.filter(F.col("term").startswith("quer"))),
        '"the data"': ids(a.join(b, ["doc_id", "p"])),
    }
    for q, expect in want.items():
        assert expect, q
        body = {"query": {"simple_query_string": {"query": q}}, "size": 10_000}
        for index_dir in (None, d):
            got = [r["doc_id"] for r in dsl.search(
                spark, documents, body, index_dir=index_dir).collect()]
            assert got == sorted(expect), (q, index_dir)


# ---------------------------------------------------------------------------
# Compound scoring queries: dis_max / constant_score / boosting /
# function_score, plus collapse & rescore (r5 second wave). Value-level
# rank identity is gated by the DuckDB twins (test_queries_oracle /
# driver gate); these pin the ES semantics and the loud-refusal edges.
# ---------------------------------------------------------------------------

_Q = "spark data table"


def test_dis_max_tie_breaker_zero_is_best_field(spark, documents):
    """tie_breaker=0 ⇒ pure best-subquery score: a single-subquery dis_max
    must reproduce the plain match ranking exactly."""
    plain = dsl.search(
        spark, documents, {"query": {"match": {"text": _Q}}, "size": 10}
    ).collect()
    dm = dsl.search(
        spark,
        documents,
        {
            "query": {"dis_max": {"queries": [{"match": {"text": _Q}}]}},
            "size": 10,
        },
    ).collect()
    assert [(r.doc_id, r.score) for r in dm] == [
        (r.doc_id, r.score) for r in plain
    ]


def test_dis_max_rejects_empty_and_unknown_subquery(spark, documents):
    with pytest.raises(ValueError, match="non-empty"):
        dsl.search(
            spark, documents, {"query": {"dis_max": {"queries": []}}}
        )
    with pytest.raises(ValueError, match="unsupported scoring subquery"):
        dsl.search(
            spark,
            documents,
            {"query": {"dis_max": {"queries": [{"terms": {"lang": ["en"]}}]}}},
        )


def test_constant_score_fixed_boost_and_filter(spark, documents):
    out = dsl.search(
        spark,
        documents,
        {
            "query": {
                "constant_score": {
                    "filter": {"term": {"lang": "de"}},
                    "boost": 2.5,
                }
            },
            "size": 5,
        },
    ).collect()
    assert out and all(r.score == 2.5 for r in out)
    ids = {r.doc_id for r in out}
    langs = {
        r.lang
        for r in documents.filter(F.col("doc_id").isin(list(ids))).collect()
    }
    assert langs == {"de"}


def test_boosting_demotes_but_keeps_negative_matches(spark, documents):
    """ES boosting is a DEMOTION (×negative_boost), not an exclusion:
    negative-matching docs stay in the results with scaled scores."""
    base = {
        r.doc_id: r.score
        for r in dsl.search(
            spark, documents, {"query": {"match": {"text": _Q}}, "size": 10000}
        ).collect()
    }
    out = dsl.search(
        spark,
        documents,
        {
            "query": {
                "boosting": {
                    "positive": {"match": {"text": _Q}},
                    "negative": {"term": {"lang": "en"}},
                    "negative_boost": 0.5,
                }
            },
            "size": 10000,
        },
    ).collect()
    assert len(out) == len(base)  # nothing excluded
    en_ids = {
        r.doc_id for r in documents.filter(F.col("lang") == "en").collect()
    }
    for r in out:
        if r.doc_id in en_ids:
            assert r.score == pytest.approx(base[r.doc_id] * 0.5, abs=2e-4)
        else:
            assert r.score == pytest.approx(base[r.doc_id], abs=1e-4)


def test_function_score_no_matching_function_keeps_query_score(
    spark, documents
):
    """A doc matching NO function keeps its query score unchanged (ES
    neutral-element semantics) — even under score_mode=sum +
    boost_mode=multiply, where a naive 0-sum would zero the doc."""
    base = {
        r.doc_id: r.score
        for r in dsl.search(
            spark, documents, {"query": {"match": {"text": _Q}}, "size": 10000}
        ).collect()
    }
    out = dsl.search(
        spark,
        documents,
        {
            "query": {
                "function_score": {
                    "query": {"match": {"text": _Q}},
                    "functions": [
                        {"filter": {"term": {"lang": "zz-nope"}}, "weight": 9.0}
                    ],
                    "score_mode": "sum",
                    "boost_mode": "multiply",
                }
            },
            "size": 10000,
        },
    ).collect()
    got = {r.doc_id: r.score for r in out}
    assert got == base


def test_function_score_refusals(spark, documents):
    body = {
        "query": {
            "function_score": {
                "query": {"match": {"text": _Q}},
                "field_value_factor": {"field": "n_chars"},
                "functions": [{"weight": 2.0}],
            }
        }
    }
    with pytest.raises(ValueError, match="not both"):
        dsl.search(spark, documents, body)
    with pytest.raises(ValueError, match="unsupported modifier"):
        dsl.search(
            spark,
            documents,
            {
                "query": {
                    "function_score": {
                        "query": {"match": {"text": _Q}},
                        "field_value_factor": {
                            "field": "n_chars",
                            "modifier": "log2p",
                        },
                    }
                }
            },
        )
    with pytest.raises(ValueError, match="boost_mode"):
        dsl.search(
            spark,
            documents,
            {
                "query": {
                    "function_score": {
                        "query": {"match": {"text": _Q}},
                        "field_value_factor": {"field": "n_chars"},
                        "boost_mode": "avg",
                    }
                }
            },
        )


def test_collapse_one_hit_per_key(spark, documents):
    out = dsl.search(
        spark,
        documents,
        {
            "query": {"match": {"text": _Q}},
            "collapse": {"field": "lang"},
            "size": 10,
        },
    ).collect()
    langs = [r.lang for r in out]
    assert len(langs) == len(set(langs))  # one best hit per collapse key
    # each returned hit is its language's best (score desc, doc_id asc)
    full = dsl.search(
        spark, documents, {"query": {"match": {"text": _Q}}, "size": 100000}
    )
    joined = full.join(documents.select("doc_id", "lang"), "doc_id").collect()
    best = {}
    for r in sorted(joined, key=lambda r: (-r.score, r.doc_id)):
        best.setdefault(r.lang, r.doc_id)
    for r in out:
        assert best[r.lang] == r.doc_id


def test_rescore_reorders_only_the_window(spark, documents):
    out = dsl.search(
        spark,
        documents,
        {
            "query": {"match": {"text": _Q}},
            "rescore": {
                "window_size": 25,
                "query": {
                    "rescore_query": {"match": {"text": "query engine"}},
                    "query_weight": 1.0,
                    "rescore_query_weight": 2.0,
                },
            },
            "size": 10,
        },
    ).collect()
    window_ids = {
        r.doc_id
        for r in dsl.search(
            spark, documents, {"query": {"match": {"text": _Q}}, "size": 25}
        ).collect()
    }
    assert out and {r.doc_id for r in out} <= window_ids
    with pytest.raises(ValueError, match="window_size"):
        dsl.search(
            spark,
            documents,
            {
                "query": {"match": {"text": _Q}},
                "rescore": {
                    "window_size": 5,
                    "query": {"rescore_query": {"match": {"text": "x"}}},
                },
                "size": 10,
            },
        )


def test_compound_refuses_highlight_and_nonmatch_collapse(spark, documents):
    with pytest.raises(ValueError, match="highlight"):
        dsl.search(
            spark,
            documents,
            {
                "query": {
                    "dis_max": {"queries": [{"match": {"text": _Q}}]}
                },
                "highlight": {"fields": {"text": {}}},
            },
        )
    with pytest.raises(ValueError, match="plain match"):
        dsl.search(
            spark,
            documents,
            {
                "query": {
                    "dis_max": {"queries": [{"match": {"text": _Q}}]}
                },
                "collapse": {"field": "lang"},
            },
        )


# ---------------------------------------------------------------------------
# Term suggester / more_like_this / composite / adjacency_matrix / missing
# (r5 third wave). Value identity is DuckDB-gated; these pin semantics.
# ---------------------------------------------------------------------------


def test_suggest_missing_mode_skips_known_tokens(spark, documents):
    """suggest_mode=missing (ES default): a token already in the index
    gets NO suggestions; a misspelled one does."""
    body = {
        "suggest": {
            "s": {"text": "spark sparkk", "term": {"field": "text", "size": 2}}
        }
    }
    rows = dsl.suggest(spark, documents, body).collect()
    toks = {r.token for r in rows}
    assert "spark" not in toks and "sparkk" in toks
    assert all(r.option == "spark" for r in rows if r.distance == 1)
    # always-mode also CONSIDERS in-vocabulary tokens (options only if a
    # near neighbor exists in the dictionary) and keeps the missing ones
    body["suggest"]["s"]["term"]["suggest_mode"] = "always"
    rows2 = dsl.suggest(spark, documents, body).collect()
    assert "sparkk" in {r.token for r in rows2}
    assert len(rows2) >= len(rows)


def test_suggest_refusals(spark, documents):
    with pytest.raises(ValueError, match="needs a 'text'"):
        dsl.suggest(spark, documents, {"suggest": {"s": {"phrase": {}}}})
    with pytest.raises(ValueError, match="term, completion"):
        dsl.suggest(spark, documents, {"suggest": {"s": {"nosuch": {}}}})
    with pytest.raises(ValueError, match="max_edits"):
        dsl.suggest(
            spark,
            documents,
            {
                "suggest": {
                    "s": {"text": "xyz", "term": {"field": "text", "max_edits": 3}}
                }
            },
        )


def test_more_like_this_excludes_seed_unless_include(spark, documents):
    base = {
        "query": {
            "more_like_this": {
                "like": {"doc_id": 3},
                "min_term_freq": 1,
                "min_doc_freq": 2,
            }
        },
        "size": 5,
    }
    out = dsl.more_like_this(spark, documents, base).collect()
    assert out and all(r.doc_id != 3 for r in out)
    base["query"]["more_like_this"]["include"] = True
    base["size"] = 100000
    out = dsl.more_like_this(spark, documents, base).collect()
    # include=true puts the seed back into the candidate set (its exact
    # rank depends on length normalization, not guaranteed first)
    assert any(r.doc_id == 3 for r in out)


def test_composite_pages_tile_exactly(spark, documents):
    """Composite after-key pagination must tile the full bucket stream
    with no gaps or overlaps (the search_after property, agg-side)."""
    events = spark.read.parquet(
        "/root/testdata/sf0.001/events.parquet"
    )
    body = {
        "size": 0,
        "aggs": {
            "c": {
                "composite": {
                    "size": 1000,
                    "sources": [
                        {"etype": {"terms": {"field": "event_type"}}},
                        {
                            "vbin": {
                                "histogram": {"field": "value", "interval": 100.0}
                            }
                        },
                    ],
                }
            }
        },
    }
    full = [
        (r.etype, r.vbin, r.doc_count)
        for r in dsl.search(spark, events, body).collect()
    ]
    assert len(full) > 4
    paged, after = [], None
    for _ in range(100):
        b = {
            "size": 0,
            "aggs": {
                "c": {
                    "composite": {
                        "size": 3,
                        "sources": body["aggs"]["c"]["composite"]["sources"],
                        **({"after": after} if after else {}),
                    }
                }
            },
        }
        rows = dsl.search(spark, events, b).collect()
        if not rows:
            break
        paged += [(r.etype, r.vbin, r.doc_count) for r in rows]
        after = {"etype": rows[-1].etype, "vbin": rows[-1].vbin}
    assert paged == full


def test_composite_after_requires_all_keys(spark, documents):
    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    with pytest.raises(ValueError, match="missing keys"):
        dsl.search(
            spark,
            events,
            {
                "size": 0,
                "aggs": {
                    "c": {
                        "composite": {
                            "sources": [
                                {"etype": {"terms": {"field": "event_type"}}}
                            ],
                            "after": {},
                        }
                    }
                },
            },
        )


def test_adjacency_matrix_intersections(spark, documents):
    body = {
        "size": 0,
        "aggs": {
            "adj": {
                "adjacency_matrix": {
                    "filters": {
                        "en": {"term": {"lang": "en"}},
                        "de": {"term": {"lang": "de"}},
                    }
                }
            }
        },
    }
    rows = {r.key: r.doc_count for r in dsl.search(spark, documents, body).collect()}
    n_en = documents.filter(F.col("lang") == "en").count()
    n_de = documents.filter(F.col("lang") == "de").count()
    assert rows["en"] == n_en and rows["de"] == n_de
    assert "en&de" not in rows  # disjoint filters: empty bucket omitted


def test_extended_stats_under_bucket_and_siblings(spark, documents):
    """extended_stats is a metric leaf: works as a sibling agg and under
    a bucketing agg (per-bucket doc_count included, ADVICE r03 #4)."""
    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    body = {
        "size": 0,
        "aggs": {
            "per_day": {
                "date_histogram": {"field": "ts", "calendar_interval": "day"},
                "aggs": {"v": {"extended_stats": {"field": "value"}}},
            }
        },
    }
    rows = dsl.search(spark, events, body).collect()
    assert rows and "doc_count" in rows[0].asDict()
    r = rows[0]
    assert r["variance"] == pytest.approx(
        r["sum_of_squares"] / r["count"] - (r["sum"] / r["count"]) ** 2,
        rel=1e-6,
    )
    # sibling metric leaves in one pass
    body2 = {
        "size": 0,
        "aggs": {
            "w": {
                "weighted_avg": {
                    "value": {"field": "value"},
                    "weight": {"field": "user_id"},
                }
            },
            "pr": {"percentile_ranks": {"field": "value", "values": [100]}},
        },
    }
    row = dsl.search(spark, events, body2).first()
    d = row.asDict()
    assert "w_value" in d and any(k.startswith("pr_rank_") for k in d)


def test_pipeline_derivative_cumsum_moving_fn(spark, events):
    """Parent pipeline aggs: window functions over the reduced bucket
    frame, never the corpus. derivative[0] is null (ES omits it);
    cumulative_sum includes the current bucket; moving_fn's default
    shift=0 window EXCLUDES the current bucket (ES [i-window, i))."""
    body = {
        "size": 0,
        "aggs": {
            "per_day": {
                "date_histogram": {"field": "ts", "calendar_interval": "day"},
                "aggs": {
                    "sales": {"sum": {"field": "value"}},
                    "deriv": {"derivative": {"buckets_path": "sales"}},
                    "cum": {"cumulative_sum": {"buckets_path": "sales"}},
                    "mov": {
                        "moving_fn": {
                            "buckets_path": "sales",
                            "window": 3,
                            "script": "MovingFunctions.unweightedAvg(values)",
                        }
                    },
                },
            }
        },
    }
    rows = dsl.search(spark, events, body).orderBy("per_day_key").collect()
    assert len(rows) > 3
    assert rows[0]["deriv"] is None and rows[0]["mov"] is None
    for prev, cur in zip(rows, rows[1:]):
        assert cur["deriv"] == pytest.approx(cur["value"] - prev["value"])
    run = 0.0
    for r in rows:
        run += r["value"]
        assert r["cum"] == pytest.approx(run)
    # moving_fn window [i-3, i): bucket 2 averages buckets 0..1
    assert rows[2]["mov"] == pytest.approx(
        (rows[0]["value"] + rows[1]["value"]) / 2
    )
    assert rows[4]["mov"] == pytest.approx(
        (rows[1]["value"] + rows[2]["value"] + rows[3]["value"]) / 3
    )


def test_pipeline_bucket_script_selector_sort(spark, events):
    """bucket_script computes per-bucket expressions from buckets_path
    params; bucket_selector filters buckets; bucket_sort orders and
    truncates the bucket list — all over the reduced frame."""
    body = {
        "size": 0,
        "aggs": {
            "by_type": {
                "terms": {"field": "event_type", "size": 10},
                "aggs": {
                    "total": {"sum": {"field": "value"}},
                    "per_doc": {
                        "bucket_script": {
                            "buckets_path": {"t": "total", "n": "_count"},
                            "script": "params.t / params.n",
                        }
                    },
                    "keep": {
                        "bucket_selector": {
                            "buckets_path": {"p": "per_doc"},
                            "script": "params.p > 0",
                        }
                    },
                    "srt": {
                        "bucket_sort": {
                            "sort": [{"per_doc": {"order": "desc"}}],
                            "size": 3,
                        }
                    },
                },
            }
        },
    }
    rows = dsl.search(spark, events, body).collect()
    assert 0 < len(rows) <= 3
    for r in rows:
        assert r["per_doc"] == pytest.approx(r["value"] / r["doc_count"])
    vals = [r["per_doc"] for r in rows]
    assert vals == sorted(vals, reverse=True)
    # selector drops buckets: an impossible threshold keeps none
    body["aggs"]["by_type"]["aggs"]["keep"]["bucket_selector"]["script"] = (
        "params.p > 1000000"
    )
    assert dsl.search(spark, events, body).count() == 0


def test_pipeline_sibling_stats_bucket(spark, events):
    """Sibling *_bucket pipelines reduce a bucketing sibling's stream to
    one row; stats_bucket emits min/max/avg/sum/count of the metric."""
    body = {
        "size": 0,
        "aggs": {
            "per_day": {
                "date_histogram": {"field": "ts", "calendar_interval": "day"},
                "aggs": {"s": {"sum": {"field": "value"}}},
            },
            "st": {"stats_bucket": {"buckets_path": "per_day>s"}},
            "avg_docs": {"avg_bucket": {"buckets_path": "per_day>_count"}},
        },
    }
    row = dsl.search(spark, events, body).first().asDict()
    inner = dsl.search(
        spark, events,
        {"size": 0, "aggs": {"per_day": {
            "date_histogram": {"field": "ts", "calendar_interval": "day"},
            "aggs": {"s": {"sum": {"field": "value"}}}}}},
    ).collect()
    sums = [r["value"] for r in inner]
    counts = [r["doc_count"] for r in inner]
    assert row["st_min"] == pytest.approx(min(sums))
    assert row["st_max"] == pytest.approx(max(sums))
    assert row["st_sum"] == pytest.approx(sum(sums))
    assert row["st_count"] == len(sums)
    assert row["avg_docs"] == pytest.approx(sum(counts) / len(counts))


def test_pipeline_refusals_and_script_safety(spark, events):
    """Pipelines outside a bucketing agg refuse; the script parser
    rejects unknown params and arbitrary code (no eval surface)."""
    with pytest.raises(ValueError, match="nested under a bucketing"):
        dsl.search(
            spark, events,
            {"size": 0, "aggs": {"d": {"derivative": {"buckets_path": "x"}}}},
        )
    bad = {
        "size": 0,
        "aggs": {
            "by_type": {
                "terms": {"field": "event_type", "size": 3},
                "aggs": {
                    "b": {
                        "bucket_script": {
                            "buckets_path": {"x": "_count"},
                            "script": "params.y + 1",
                        }
                    }
                },
            }
        },
    }
    with pytest.raises(ValueError, match="defined names are only"):
        dsl.search(spark, events, bad).collect()
    bad["aggs"]["by_type"]["aggs"]["b"]["bucket_script"]["script"] = (
        "__import__('os')"
    )
    with pytest.raises(ValueError):
        dsl.search(spark, events, bad).collect()
    # chained pipelines: later ones see earlier outputs
    chain = {
        "size": 0,
        "aggs": {
            "per_day": {
                "date_histogram": {"field": "ts", "calendar_interval": "day"},
                "aggs": {
                    "s": {"sum": {"field": "value"}},
                    "d": {"derivative": {"buckets_path": "s"}},
                    "cd": {"cumulative_sum": {"buckets_path": "d"}},
                },
            }
        },
    }
    rows = dsl.search(spark, events, chain).orderBy("per_day_key").collect()
    # telescoping: cumulative derivative == value - first value
    assert rows[-1]["cd"] == pytest.approx(rows[-1]["value"] - rows[0]["value"])


def test_two_scoring_clauses_in_bool_must_raise(spark, documents):
    """ADVICE r05 (dsl.py:403): ES SUMS the scores of two scoring
    clauses in bool.must; demoting the second to a non-scoring filter
    silently changes the ranking — refuse loudly instead."""
    body = {
        "query": {
            "bool": {
                "must": [
                    {"match": {"text": _Q}},
                    {"match": {"text": "crawl page"}},
                ]
            }
        }
    }
    with pytest.raises(ValueError, match="more than one scoring clause"):
        dsl.search(spark, documents, body)
    # one scoring clause + genuinely boolean clauses still compose
    ok = dsl.search(
        spark,
        documents,
        {
            "query": {
                "bool": {
                    "must": [
                        {"match": {"text": _Q}},
                        {"exists": {"field": "lang"}},
                    ]
                }
            },
            "size": 3,
        },
    ).collect()
    assert len(ok) == 3


def test_field_value_factor_null_without_missing_raises(spark, documents):
    """ADVICE r05 (dsl.py:925): ES throws for a matched doc lacking the
    field when `missing` is unset; a silent NULL score just sinks the
    row. The engine raises lazily in-expression."""
    import pyspark.errors

    docs = documents.withColumn(
        "maybe_null",
        F.when(F.col("doc_id") % 7 == 0, F.col("n_chars")),
    )
    body = {
        "query": {
            "function_score": {
                "query": {"match": {"text": _Q}},
                "field_value_factor": {"field": "maybe_null"},
            }
        },
        "size": 5,
    }
    with pytest.raises(Exception, match="missing.*unset|unset.*missing"):
        dsl.search(spark, docs, body).collect()
    # with `missing` set the same body scores fine
    body["query"]["function_score"]["field_value_factor"]["missing"] = 1.0
    assert len(dsl.search(spark, docs, body).collect()) == 5


def test_phrase_suggest_combo_budget(spark, documents, monkeypatch):
    """A pathological candidate_size must refuse (candidate_size^n
    driver-side product), not OOM (VERDICT r05 What's-wrong #2)."""
    monkeypatch.setattr(dsl, "SUGGEST_COMBO_BUDGET", 0)
    body = {
        "suggest": {
            "s": {
                "text": "sparkk dataa",
                "phrase": {"field": "text", "size": 3},
            }
        }
    }
    with pytest.raises(ValueError, match="combinations"):
        dsl.suggest(spark, documents, body)
