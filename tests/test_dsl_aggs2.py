"""Round-5 agg wave: multi_terms, rare_terms, date_range,
auto_date_histogram, global, sampler/diversified_sampler,
median_absolute_deviation, string_stats, boxplot, top_metrics; the
one-type-per-spec rule; and a check that every entry of the agg handler
table is reached by a registry row or by a body in AGG_CASES."""

from __future__ import annotations

import inspect

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from es_loaders_spark import dsl, queries


@pytest.fixture(scope="module")
def events(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/events.parquet").cache()


@pytest.fixture(scope="module")
def frames(spark, events):
    return {
        "events": events,
        # questions (parents) + answers (children), ES join-field style
        "qa": spark.createDataFrame([
            Row(doc_id=1, join_name="question", join_parent=None, topic="spark"),
            Row(doc_id=2, join_name="question", join_parent=None, topic="duck"),
            Row(doc_id=3, join_name="question", join_parent=None, topic="spark"),
            Row(doc_id=10, join_name="answer", join_parent=1, topic=None),
            Row(doc_id=11, join_name="answer", join_parent=1, topic=None),
            Row(doc_id=12, join_name="answer", join_parent=2, topic=None),
            Row(doc_id=13, join_name="answer", join_parent=3, topic=None),
        ]),
        "geo": spark.createDataFrame([
            Row(doc_id=1, loc=Row(lat=40.0, lon=-74.0)),
            Row(doc_id=2, loc=Row(lat=52.5, lon=13.4)),
            Row(doc_id=3, loc=Row(lat=-33.9, lon=151.2)),
        ]),
        "series": spark.createDataFrame(
            [Row(k=i, v=float(v)) for i, v in enumerate([1, 3, 6, 10, 15, 21])]
        ),
    }


# One search body for each agg type that no registry row reaches:
# (frame, body, id_col, its rows in sorted order). Rows are None where
# a test below checks the body's answer.
AGG_CASES = {
    "date_range": ("events", {"size": 0, "aggs": {"dr": {"date_range": {
        "field": "ts",
        "ranges": [
            {"to": "2024-01-15"},
            {"from": "2024-01-10", "to": "2024-01-20"},
            {"from": "2024-01-15"},
        ],
    }}}}, "doc_id", None),
    "auto_date_histogram": ("events", {"size": 0, "aggs": {"adh": {
        "auto_date_histogram": {"field": "ts", "buckets": 40}}}}, "doc_id", None),
    "global": ("events", {
        "query": {"term": {"event_type": "click"}},
        "size": 0,
        "aggs": {"all": {"global": {}, "aggs": {
            "m": {"avg": {"field": "value"}}}}},
    }, "doc_id", None),
    "sampler": ("events", {"size": 0, "aggs": {"s": {"sampler": {"shard_size": 100},
        "aggs": {"m": {"sum": {"field": "value"}}}}}}, "event_id", None),
    "diversified_sampler": ("events", {"size": 0, "aggs": {"s": {"diversified_sampler": {
        "shard_size": 50, "field": "event_type", "max_docs_per_value": 5},
        "aggs": {"m": {"value_count": {"field": "value"}}}}}}, "event_id", None),
    "cardinality": ("qa", {"size": 0, "aggs": {
        "c": {"cardinality": {"field": "topic"}}}}, "doc_id", [(2,)]),
    "min+value_count": ("series", {"size": 0, "aggs": {
        "lo": {"min": {"field": "v"}}, "n": {"value_count": {"field": "v"}}}},
        "doc_id", [(1.0, 6)]),
    "geo_bounds+geo_centroid": ("geo", {"size": 0, "aggs": {
        "b": {"geo_bounds": {"field": "loc"}},
        "c": {"geo_centroid": {"field": "loc"}}}}, "doc_id",
        [(52.5, -74.0, -33.9, 151.2, 58.6 / 3, 90.6 / 3, 3)]),
    "children": ("qa", {
        "query": {"term": {"join_name": "question"}},
        "size": 0,
        "aggs": {"by": {"terms": {"field": "topic"}, "aggs": {
            "kids": {"children": {"type": "answer"}}}}},
    }, "doc_id", [("duck", 1), ("spark", 3)]),
    "serial_diff": ("series", {"size": 0, "aggs": {"h": {
        "histogram": {"field": "k", "interval": 1},
        "aggs": {"s": {"sum": {"field": "v"}},
                 "d": {"serial_diff": {"buckets_path": "s", "lag": 2}}}}}},
        "doc_id", [(0, 1.0, 1, None), (1, 3.0, 1, None), (2, 6.0, 1, 5.0),
                   (3, 10.0, 1, 7.0), (4, 15.0, 1, 9.0), (5, 21.0, 1, 11.0)]),
    "max/min/sum_bucket": ("series", {"size": 0, "aggs": {
        "h": {"histogram": {"field": "k", "interval": 1},
              "aggs": {"s": {"sum": {"field": "v"}}}},
        "hi": {"max_bucket": {"buckets_path": "h>s"}},
        "lo": {"min_bucket": {"buckets_path": "h>s"}},
        "tot": {"sum_bucket": {"buckets_path": "h>s"}}}}, "doc_id",
        [(21.0, 1.0, 56.0)]),
}


@pytest.mark.parametrize(
    "case", [c for c, v in AGG_CASES.items() if v[3] is not None]
)
def test_agg_case_rows(spark, frames, case):
    frame, body, id_col, want = AGG_CASES[case]
    got = sorted(
        tuple(r) for r in dsl.search(spark, frames[frame], body, id_col=id_col).collect()
    )
    assert len(got) == len(want)
    for g, w in zip(got, want):
        assert g == pytest.approx(w), case


@pytest.fixture(scope="module")
def reached_types(spark, sf_dir, frames):
    """The agg types whose handler runs while the registry's aggs rows and
    AGG_CASES build their plans (handlers run at plan time)."""
    seen: set[str] = set()
    saved = dict(dsl._AGGS)

    def recording(t, fn):
        def run(*args):
            seen.add(t)
            return fn(*args)
        return run

    for t, (kind, fn) in saved.items():
        dsl._AGGS[t] = (kind, recording(t, fn))
    try:
        for fn in {**queries.QUERIES, **queries.EXTRA_QUERIES}.values():
            if '"aggs"' in inspect.getsource(fn):
                fn(spark, sf_dir)
        for frame, body, id_col, _ in AGG_CASES.values():
            dsl.search(spark, frames[frame], body, id_col=id_col)
    finally:
        dsl._AGGS.update(saved)
    return seen


@pytest.mark.parametrize("agg_type", sorted(dsl._AGGS))
def test_every_agg_handler_is_reached(reached_types, agg_type):
    assert agg_type in reached_types, (
        f"no registry row or AGG_CASES body runs the {agg_type!r} handler"
    )


@pytest.mark.parametrize("aggs, keys", [
    ({"x": {"terms": {"field": "event_type"}, "avg": {"field": "value"}}},
     r"\['terms', 'avg'\]"),
    ({"x": {"terms": {"field": "event_type"},
            "histogram": {"field": "value", "interval": 10}}},
     r"\['terms', 'histogram'\]"),
    ({"x": {"terms": {"field": "event_type"},
            "aggregations": {"m": {"avg": {"field": "value"}}}}}, "'aggs'"),
    ({"x": {"aggs": {"m": {"avg": {"field": "value"}}}}}, r"\[\]"),
], ids=["terms+avg", "terms+histogram", "aggregations", "no_type"])
def test_agg_spec_takes_exactly_one_type(spark, events, aggs, keys):
    # ES: "Found two aggregation type definitions"; running one type and
    # dropping the other would return a silently partial answer
    with pytest.raises(ValueError, match=f"'x'.*{keys}"):
        dsl.search(spark, events, {"size": 0, "aggs": aggs})


def test_search_body_aggregations_key_refuses(spark, events):
    with pytest.raises(ValueError, match="'aggs'"):
        dsl.search(spark, events, {"size": 0, "aggregations": {
            "m": {"avg": {"field": "value"}}}})


def test_multi_terms_matches_manual_topn(spark, events):
    body = {"size": 0, "aggs": {"mt": {"multi_terms": {
        "terms": [{"field": "event_type"}, {"field": "user_id"}],
        "size": 5,
    }}}}
    got = dsl.search(spark, events, body).collect()
    want = (
        events.groupBy("event_type", "user_id")
        .agg(F.count(F.lit(1)).alias("doc_count"))
        .orderBy(F.desc("doc_count"), F.asc("event_type"), F.asc("user_id"))
        .limit(5)
        .collect()
    )
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


def test_multi_terms_sub_agg_per_tuple_bucket(spark, events):
    body = {"size": 0, "aggs": {"mt": {"multi_terms": {
        "terms": [{"field": "event_type"}, {"field": "user_id"}], "size": 3,
    }, "aggs": {"m": {"avg": {"field": "value"}}}}}}
    out = dsl.search(spark, events, body)
    assert set(out.columns) == {"event_type", "user_id", "value", "doc_count"}
    assert out.count() == 3


def test_rare_terms_is_the_long_tail(spark, events):
    body = {"size": 0, "aggs": {"rt": {"rare_terms": {
        "field": "user_id", "max_doc_count": 2}}}}
    got = {(r.user_id, r.doc_count) for r in dsl.search(spark, events, body).collect()}
    want = {
        (r.user_id, r.doc_count)
        for r in events.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("doc_count"))
        .filter("doc_count <= 2")
        .collect()
    }
    assert got == want
    assert all(c <= 2 for _, c in got)


def test_date_range_buckets_overlap_and_open_ends(spark, events):
    body = AGG_CASES["date_range"][1]
    rows = {r.dr_key: r.doc_count for r in dsl.search(spark, events, body).collect()}
    n = events.count()
    assert rows["*-2024-01-15"] + rows["2024-01-15-*"] == n
    overlap = events.filter(
        (F.col("ts") >= "2024-01-10") & (F.col("ts") < "2024-01-20")
    ).count()
    assert rows["2024-01-10-2024-01-20"] == overlap


def test_auto_date_histogram_picks_smallest_fitting_unit(spark, events):
    out = dsl.search(spark, events, AGG_CASES["auto_date_histogram"][1])
    rows = out.collect()
    assert rows[0]["adh_interval"] == "day"  # ~30-day span, 40 buckets
    assert len(rows) <= 40
    # tighter budget → coarser unit
    out2 = dsl.search(spark, events, {"size": 0, "aggs": {"adh": {
        "auto_date_histogram": {"field": "ts", "buckets": 5}}}})
    assert out2.first()["adh_interval"] in ("week", "month")
    assert out2.count() <= 5


def test_global_escapes_the_query_filter(spark, events):
    got = dsl.search(spark, events, AGG_CASES["global"][1]).first()["value"]
    want = events.agg(F.avg("value")).first()[0]
    assert got == want


def test_sampler_deterministic_prefix(spark, events):
    body = AGG_CASES["sampler"][1]
    got = dsl.search(spark, events, body, id_col="event_id").first()["value"]
    want = (
        events.orderBy("event_id").limit(100).agg(F.sum("value")).first()[0]
    )
    assert got == want


def test_diversified_sampler_caps_per_value(spark, events):
    body = AGG_CASES["diversified_sampler"][1]
    got = dsl.search(spark, events, body, id_col="event_id").first()["value"]
    # ≤ 5 per event_type before the size cap; with few types the cap
    # binds at 5 × n_types
    n_types = events.select("event_type").distinct().count()
    assert got == min(50, 5 * n_types)


def test_sampler_without_id_col_refuses(spark, events):
    with pytest.raises(ValueError, match="id_col"):
        dsl.search(spark, events, {"size": 0, "aggs": {
            "s": {"sampler": {}, "aggs": {"m": {"avg": {"field": "value"}}}}}})


def test_mad_global_and_per_bucket(spark, events):
    import numpy as np

    vals = np.array([r.value for r in events.select("value").collect()])
    want = float(np.median(np.abs(vals - np.median(vals))))
    got = dsl.search(spark, events, {"size": 0, "aggs": {
        "m": {"median_absolute_deviation": {"field": "value"}}}}).first()
    assert abs(got["value"] - want) < 1e-9
    assert got["doc_count"] == len(vals)
    per = dsl.search(spark, events, {"size": 0, "aggs": {
        "by": {"terms": {"field": "event_type", "size": 10},
               "aggs": {"m": {"median_absolute_deviation": {"field": "value"}}}}}})
    rows = {r.event_type: r.value for r in per.collect()}
    one = [r.value for r in events.filter("event_type = 'click'")
           .select("value").collect()]
    v = np.array(one)
    assert abs(rows["click"] - float(np.median(np.abs(v - np.median(v))))) < 1e-9


def test_string_stats_lengths_and_entropy(spark, documents):
    import math
    from collections import Counter

    out = dsl.search(spark, documents, {"size": 0, "aggs": {
        "ss": {"string_stats": {"field": "lang"}}}}).first()
    langs = [r.lang for r in documents.select("lang").collect()]
    lens = [len(x) for x in langs]
    assert out["count"] == len(langs)
    assert out["min_length"] == min(lens)
    assert out["max_length"] == max(lens)
    assert abs(out["avg_length"] - sum(lens) / len(lens)) < 1e-9
    chars = Counter("".join(langs))
    t = sum(chars.values())
    want = -sum((c / t) * math.log2(c / t) for c in chars.values())
    assert abs(out["entropy"] - want) < 1e-9


def test_boxplot_quartiles_exact(spark, events):
    import numpy as np

    out = dsl.search(spark, events, {"size": 0, "aggs": {
        "bx": {"boxplot": {"field": "value"}}}}).first()
    vals = np.array([r.value for r in events.select("value").collect()])
    for k, q in (("q1", 25), ("q2", 50), ("q3", 75)):
        assert abs(out[k] - float(np.percentile(vals, q))) < 1e-9
    assert out["min"] == float(vals.min()) and out["max"] == float(vals.max())


def test_top_metrics_latest_value_with_tiebreak(spark, events):
    out = dsl.search(spark, events, {"size": 0, "aggs": {
        "by": {"terms": {"field": "event_type", "size": 10},
               "aggs": {"tm": {"top_metrics": {
                   "metrics": [{"field": "value"}],
                   "sort": [{"ts": "desc"}]}}}}}}, id_col="event_id")
    rows = {r.event_type: r.value for r in out.collect()}
    w = (
        events.withColumn(
            "_rn",
            F.row_number().over(
                __import__("pyspark.sql.window", fromlist=["Window"])
                .Window.partitionBy("event_type")
                .orderBy(F.desc("ts"), F.asc("event_id"))
            ),
        )
        .filter("_rn = 1")
        .collect()
    )
    for r in w:
        assert rows[r.event_type] == r.value


def test_top_metrics_size_gt_1_refuses(spark, events):
    with pytest.raises(ValueError, match="size=1"):
        dsl.search(spark, events, {"size": 0, "aggs": {
            "tm": {"top_metrics": {"metrics": [{"field": "value"}],
                                   "sort": [{"ts": "desc"}], "size": 3}}}},
                   id_col="event_id")
