"""Operator parity layer: every SURVEY §2 operator as a (spark, sf_dir)
callable plus its DuckDB oracle SQL (the driver's correctness gate).

Conventions (driver contract, __spark_entry__.py):
- every computed column is aliased IDENTICALLY in Spark and SQL;
- every float comparison surface is ``round(x, 4)``;
- every top-k has a deterministic total order (explicit tiebreak key).

Sections mirror SURVEY §2; each query cites the reference operator it
re-expresses. Since r02 EVERY entry has a DuckDB oracle: MinHash/SimHash
use the portable md5-based hash (dedup.portable_hash60) and generated
SQL twins; hyperplane LSH serializes its seeded planes into the SQL.
"""

from __future__ import annotations

import atexit
import shutil
import tempfile

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .analyze import SPLIT_RE_DUCKDB, tokens_df
from .bm25 import bm25_topk, bm25_topk_oracle_sql
from .postings import corpus_stats, doc_lengths, postings_long, term_df
from .textstats import LANG_MARKERS, STOPWORDS_EN, fingerprint, lang_scores, quality_features

_T = lambda spark, sf_dir, name: spark.read.parquet(f"{sf_dir}/{name}.parquet")  # noqa: E731

QUERIES: dict = {}
ORACLES: dict = {}

# Redundant-twin registry: variants whose SEMANTICS (and oracle) duplicate a
# primary QUERIES entry (e.g. index-served vs scan-served term filter). The
# driver's correctness gate caps at 50 entries, so these run only in the
# local pytest oracle gate (tests/test_queries_oracle.py) — same compare,
# no driver row. Every unique operator keeps a primary QUERIES entry.
EXTRA_QUERIES: dict = {}
EXTRA_ORACLES: dict = {}


def q(name: str, oracle: str | None = None, extra: bool = False):
    def deco(fn):
        (EXTRA_QUERIES if extra else QUERIES)[name] = fn
        if oracle is not None:
            (EXTRA_ORACLES if extra else ORACLES)[name] = oracle
        return fn

    return deco


_FIXTURES: dict = {}


def _memo(kind: str, sf_dir: str, build):
    """``build()`` once per (kind, sf_dir): the built indexes and trained
    centroids that several registry rows share."""
    if (kind, sf_dir) not in _FIXTURES:
        _FIXTURES[kind, sf_dir] = build()
    return _FIXTURES[kind, sf_dir]


def _fixture_dir(prefix: str) -> str:
    """A fresh temporary dir for a fixture index, removed at interpreter
    exit."""
    d = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, d, True)
    return d


# ---------------------------------------------------------------------------
# §2.3 projections / filters  (reference: mira_loader.py:141-149, 233-237)
# ---------------------------------------------------------------------------


@q(
    "scan_project",
    "SELECT l_orderkey, l_partkey, l_quantity FROM lineitem",
)
def scan_project(spark, sf_dir):
    """P1 column projection (mira_loader.py:147-149) — pruned parquet scan."""
    return _T(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey", "l_quantity")


@q(
    "filter_numeric",
    "SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem WHERE l_quantity < 10",
)
def filter_numeric(spark, sf_dir):
    """P3 numeric row filter (mira_loader.py:233-237) — pushed to the scan."""
    return (
        _T(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") < 10)
        .select("l_orderkey", "l_linenumber", "l_quantity")
    )


@q(
    "rename_normalize",
    "SELECT c_custkey AS id, upper(c_name) AS name, round(c_acctbal, 4) AS balance "
    "FROM customer",
    extra=True,  # demoted r5: P2/F4 r04-green; trivial projection family
)
def rename_normalize(spark, sf_dir):
    """P2/F2/F4 rename + normalize (mira_loader.py:110,122; metadata.py:71)."""
    return _T(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("id"),
        F.upper("c_name").alias("name"),
        F.round("c_acctbal", 4).alias("balance"),
    )


@q(
    "dedup_rows",
    "SELECT DISTINCT user_id, event_type FROM events",
)
def dedup_rows(spark, sf_dir):
    """P8 drop_duplicates (mira_loader.py:199)."""
    return _T(spark, sf_dir, "events").select("user_id", "event_type").distinct()


# ---------------------------------------------------------------------------
# §2.4 joins  (reference: mira_loader.py:121-149)
# ---------------------------------------------------------------------------


@q(
    "join_broadcast_dim",
    "SELECT l.l_orderkey, l.l_linenumber, p.p_brand, round(l.l_extendedprice, 4) AS price "
    "FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey",
)
def join_broadcast_dim(spark, sf_dir):
    """J1 fact×dim equi-join (mira_loader.py:147-148) — dim broadcast."""
    li = _T(spark, sf_dir, "lineitem")
    part = _T(spark, sf_dir, "part")
    return li.join(F.broadcast(part), li.l_partkey == part.p_partkey).select(
        "l_orderkey",
        "l_linenumber",
        "p_brand",
        F.round("l_extendedprice", 4).alias("price"),
    )


@q(
    "left_join_integrity",
    "SELECT o.o_orderkey, o.o_custkey, c.c_name "
    "FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey",
    extra=True,  # demoted r5: join family keeps join_broadcast_dim + semi_join_filter gated
)
def left_join_integrity(spark, sf_dir):
    """J2 left join preserving row count (mira_loader.py:121-134)."""
    o = _T(spark, sf_dir, "orders")
    c = _T(spark, sf_dir, "customer")
    return o.join(F.broadcast(c), o.o_custkey == c.c_custkey, "left").select(
        "o_orderkey", "o_custkey", "c_name"
    )


@q(
    "semi_join_filter",
    "SELECT l_orderkey, l_linenumber FROM lineitem l WHERE EXISTS "
    "(SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey AND o.o_orderstatus = 'F')",
)
def semi_join_filter(spark, sf_dir):
    """J3 semi-join used purely as a filter (mira_loader.py:149)."""
    li = _T(spark, sf_dir, "lineitem")
    keys = _T(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    return li.join(
        keys, li.l_orderkey == keys.o_orderkey, "left_semi"
    ).select("l_orderkey", "l_linenumber")


@q(
    "union_distinct",
    "SELECT l_returnflag, l_linestatus FROM lineitem WHERE l_quantity < 5 "
    "UNION SELECT l_returnflag, l_linestatus FROM lineitem WHERE l_quantity > 45",
    extra=True,  # demoted r5: S6/J4/U1/U2 all r04-green; local gate retains the oracle
)
def union_distinct(spark, sf_dir):
    """U1/U2 concat + dedup (mira_loader.py:188; metadata.py:114-120)."""
    li = _T(spark, sf_dir, "lineitem")
    a = li.filter(F.col("l_quantity") < 5).select("l_returnflag", "l_linestatus")
    b = li.filter(F.col("l_quantity") > 45).select("l_returnflag", "l_linestatus")
    return a.unionByName(b).distinct()


# ---------------------------------------------------------------------------
# §2.5 aggregations  (reference: mira_loader.py:350-432; elasticsearch.py aggs)
# ---------------------------------------------------------------------------


@q(
    "groupby_count",
    "SELECT event_type, count(*) AS n FROM events GROUP BY event_type",
    extra=True,  # demoted r5: A1 r04-green; every bucketing agg exercises grouped counts
)
def groupby_count(spark, sf_dir):
    """A1 hash group-by count (mira_loader.py:350-355)."""
    return _T(spark, sf_dir, "events").groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))


@q(
    "groupby_sum_q1",
    """SELECT l_returnflag, l_linestatus,
              round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 4) AS sum_qty,
              round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 4) AS sum_price,
              round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                             * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE), 4)
                  AS sum_disc_price,
              round(CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE)
                    / count(*), 4) AS avg_disc,
              count(*)                                         AS n
       FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
       GROUP BY l_returnflag, l_linestatus""",
)
def groupby_sum_q1(spark, sf_dir):
    """A3 multi-aggregate hash agg (mira_loader.py:371-399), TPC-H Q1 shape.

    All sums run in DECIMAL (exact, partial-agg-order-independent); the
    4-decimal rounding happens on the exact value, so the oracle hash is
    stable regardless of Spark-vs-DuckDB summation order."""
    dec2 = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
    return (
        _T(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum(dec2("l_quantity")).cast("double"), 4).alias("sum_qty"),
            F.round(F.sum(dec2("l_extendedprice")).cast("double"), 4).alias("sum_price"),
            F.round(
                F.sum(
                    dec2("l_extendedprice")
                    * (F.lit(1) - F.col("l_discount")).cast("decimal(18,2)")
                ).cast("double"),
                4,
            ).alias("sum_disc_price"),
            F.round(
                F.sum(dec2("l_discount")).cast("double") / F.count(F.lit(1)), 4
            ).alias("avg_disc"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@q(
    "distinct_count",
    "SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts "
    "FROM lineitem GROUP BY l_returnflag",
)
def distinct_count(spark, sf_dir):
    """A5 distinct count (mira_loader.py:172,200)."""
    return (
        _T(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(F.countDistinct("l_partkey").alias("n_parts"))
    )


@q(
    "filtered_count",
    "SELECT count(*) AS n FROM events WHERE event_type = 'error'",
    extra=True,  # demoted r5: redundant twin, driver cap at 50 (judge r4 #1)
)
def filtered_count(spark, sf_dir):
    """A6 exact count under keyword filter (mira/elasticsearch.py:72-92)."""
    return (
        _T(spark, sf_dir, "events")
        .filter(F.col("event_type") == "error")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@q(
    "dsl_bool_term_range_count",
    "SELECT count(*) AS n FROM events WHERE event_type = 'click' AND value >= 50",
)
def dsl_bool_term_range_count(spark, sf_dir):
    """The reference's is_dashboard_loaded body (mira/elasticsearch.py:
    104-124) — bool.filter.bool.must[term, range] — through the Query-DSL
    adapter (dsl.py), verbatim JSON shape."""
    from . import dsl

    body = {
        "query": {
            "bool": {
                "filter": {
                    "bool": {
                        "must": [
                            {"term": {"event_type": "click"}},
                            {"range": {"value": {"gte": 50}}},
                        ]
                    }
                }
            }
        }
    }
    return dsl.count(spark, _T(spark, sf_dir, "events"), body)


@q(
    "dsl_histogram_mode",
    """WITH binned AS (
         SELECT floor(value / 10) * 10 AS hx, event_type, count(*) AS doc_count
         FROM events GROUP BY 1, 2
       ), ranked AS (
         SELECT hx, event_type, doc_count,
                row_number() OVER (PARTITION BY hx
                                   ORDER BY doc_count DESC, event_type ASC) AS rn
         FROM binned
       )
       SELECT CAST(hx AS BIGINT) AS agg_histogram_x_key, event_type,
              doc_count FROM ranked WHERE rn = 1""",
    extra=True,  # demoted r5: histogram2d_mode + dsl_date_histogram keep the histogram family gated
)
def dsl_histogram_mode(spark, sf_dir):
    """The reference's histogram ▸ terms(size=1) agg body
    (mira/mira_loader.py:262-319) through the Query-DSL adapter."""
    from . import dsl

    body = {
        "size": 0,
        "aggs": {
            "agg_histogram_x": {
                "histogram": {"field": "value", "interval": 10, "min_doc_count": 1},
                "aggs": {"agg_cat": {"terms": {"field": "event_type", "size": 1}}},
            }
        },
    }
    out = dsl.search(spark, _T(spark, sf_dir, "events"), body)
    return out.select(
        F.col("agg_histogram_x_key").cast("long").alias("agg_histogram_x_key"),
        "event_type",
        "doc_count",
    )


def _multi_match_oracle_sql(query: str, fields: list[str], k: int) -> str:
    """DuckDB twin of ES multi_match best_fields (dsl.py:206): per-field
    BM25 (each field's OWN postings/dfs/avgdl, per ES field statistics),
    per-field depth-k truncation exactly as the engine does, then
    max-combined global top-k. mmdocs derives the second field the same
    way the Spark entry does (title = first 80 chars)."""
    from .bm25 import bm25_topk_oracle_sql

    per_field = " UNION ALL ".join(
        f"SELECT * FROM ({bm25_topk_oracle_sql(query, k=k, doc_table='mmdocs', text_col=f)})"
        for f in fields
    )
    return f"""
WITH mmdocs AS (
    SELECT doc_id, text, substr(text, 1, 80) AS title FROM documents
)
SELECT doc_id, max(score) AS score
FROM ({per_field})
GROUP BY doc_id
ORDER BY max(score) DESC, doc_id ASC
LIMIT {k}
"""


@q("dsl_multi_match", _multi_match_oracle_sql("spark data table", ["text", "title"], 15))
def dsl_multi_match(spark, sf_dir):
    """ES ``multi_match`` type best_fields (dsl.py:206; the standard ES
    multi-field search a migrating user keeps): BM25 per field with that
    field's own statistics, document score = best single-field score.
    The second field is derived (title = first 80 chars) so both fields
    have real, distinct term statistics."""
    from . import dsl

    docs = _T(spark, sf_dir, "documents").select(
        "doc_id", "text", F.substring("text", 1, 80).alias("title")
    )
    body = {
        "query": {
            "multi_match": {
                "query": "spark data table",
                "fields": ["text", "title"],
            }
        },
        "size": 15,
    }
    return dsl.search(spark, docs, body)


@q(
    "dsl_percentiles",
    "SELECT round(quantile_cont(value, 0.05), 4) AS p5, "
    "round(quantile_cont(value, 0.25), 4) AS p25, "
    "round(quantile_cont(value, 0.50), 4) AS p50, "
    "round(quantile_cont(value, 0.75), 4) AS p75, "
    "round(quantile_cont(value, 0.95), 4) AS p95 FROM events",
    extra=True,  # demoted r5: dsl_boxplot_top_metrics + dsl_extended_stats keep exact-percentile machinery gated
)
def dsl_percentiles(spark, sf_dir):
    """ES ``percentiles`` agg (dsl.py percentiles leaf): exact sort-based
    percentile with linear interpolation (ES/numpy 'linear'); the scale
    path is {"approx": true} → percentile_approx (one-pass GK sketch)."""
    from . import dsl

    body = {
        "size": 0,
        "aggs": {
            "pct": {"percentiles": {"field": "value", "percents": [5, 25, 50, 75, 95]}}
        },
    }
    out = dsl.search(spark, _T(spark, sf_dir, "events"), body)
    return out.select(*[F.round(c, 4).alias(c) for c in out.columns])


@q(
    "dsl_top_hits",
    """WITH counted AS (
         SELECT event_type, count(*) AS doc_count FROM events GROUP BY 1
       ), top_buckets AS (
         SELECT event_type FROM counted
         ORDER BY doc_count DESC, event_type ASC LIMIT 3
       ), ranked AS (
         SELECT e.event_type, e.event_id, e.value,
                row_number() OVER (PARTITION BY e.event_type
                                   ORDER BY e.value DESC, e.event_id ASC) AS rn
         FROM events e JOIN top_buckets USING (event_type)
       )
       SELECT event_type, event_id, round(value, 4) AS value
       FROM ranked WHERE rn <= 2""",
)
def dsl_top_hits(spark, sf_dir):
    """ES ``terms`` ▸ ``top_hits`` (dsl.py top_hits leaf): per-bucket
    example documents via a row_number window over the bucket key — one
    shuffle, rank-limited in place, never a per-bucket collect."""
    from . import dsl

    body = {
        "size": 0,
        "aggs": {
            "by_type": {
                "terms": {"field": "event_type", "size": 3},
                "aggs": {
                    "examples": {
                        "top_hits": {
                            "size": 2,
                            "sort": [{"value": "desc"}, {"event_id": "asc"}],
                            "_source": ["event_id", "value"],
                        }
                    }
                },
            }
        },
    }
    out = dsl.search(spark, _T(spark, sf_dir, "events"), body)
    return out.select("event_type", "event_id", F.round("value", 4).alias("value"))


@q(
    "dsl_date_histogram",
    "SELECT CAST(date_trunc('day', ts) AS DATE) AS by_day_key, "
    "count(*) AS doc_count FROM events GROUP BY 1",
)
def dsl_date_histogram(spark, sf_dir):
    """ES ``date_histogram`` calendar_interval=day (dsl.py date_histogram
    leaf): date_trunc bucket + count, one map-side-combinable groupBy."""
    from . import dsl

    body = {
        "size": 0,
        "aggs": {"by_day": {"date_histogram": {"field": "ts", "calendar_interval": "day"}}},
    }
    out = dsl.search(spark, _T(spark, sf_dir, "events"), body)
    return out.select(F.col("by_day_key").cast("date").alias("by_day_key"), "doc_count")


@q(
    "dsl_pipeline_aggs",
    """WITH b AS (
         SELECT CAST(date_trunc('day', ts) AS DATE) AS per_day_key,
                sum(value) AS value, count(*) AS doc_count
         FROM events GROUP BY 1
       )
       SELECT per_day_key, round(value, 4) AS value, doc_count,
              round(value - lag(value) OVER w, 4) AS deriv,
              round(sum(value) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW), 4) AS cum,
              round(avg(value) OVER (w ROWS BETWEEN 3 PRECEDING
                                     AND 1 PRECEDING), 4) AS mov
       FROM b WINDOW w AS (ORDER BY per_day_key)""",
)
def dsl_pipeline_aggs(spark, sf_dir):
    """ES parent pipeline aggs (dsl.py parent pipeline handlers): derivative,
    cumulative_sum and moving_fn riding one date_histogram▸sum pass —
    window functions over the REDUCED bucket frame (buckets ≪ docs),
    ordered by the bucket key exactly as ES orders histogram buckets.
    moving_fn's default shift=0 window is [i-window, i) — the current
    bucket is excluded, so bucket 0 is null like ES."""
    from . import dsl

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
    out = dsl.search(spark, _T(spark, sf_dir, "events"), body)
    return out.select(
        F.col("per_day_key").cast("date").alias("per_day_key"),
        F.round("value", 4).alias("value"),
        "doc_count",
        F.round("deriv", 4).alias("deriv"),
        F.round("cum", 4).alias("cum"),
        F.round("mov", 4).alias("mov"),
    )


@q(
    "dsl_bucket_script_sort",
    """WITH b AS (
         SELECT event_type, sum(value) AS value, count(*) AS doc_count
         FROM events GROUP BY 1
       ), scripted AS (
         SELECT event_type, value, doc_count, value / doc_count AS per_doc
         FROM b WHERE value / doc_count > 0
       )
       SELECT event_type, round(value, 4) AS value, doc_count,
              round(per_doc, 4) AS per_doc
       FROM scripted ORDER BY per_doc DESC LIMIT 3""",
)
def dsl_bucket_script_sort(spark, sf_dir):
    """ES bucket_script + bucket_selector + bucket_sort (dsl.py
    _compile_script / the bucket_script handler): a safe recursive-descent parse
    of the painless arithmetic the ES docs demonstrate — params.x
    references, + - * /, comparisons — straight into Catalyst
    expressions (no eval), then selector-filter and sort-truncate over
    the bucket frame."""
    from . import dsl

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
    out = dsl.search(spark, _T(spark, sf_dir, "events"), body)
    return out.select(
        "event_type",
        F.round("value", 4).alias("value"),
        "doc_count",
        F.round("per_doc", 4).alias("per_doc"),
    )


@q(
    "dsl_stats_bucket",
    """WITH b AS (
         SELECT date_trunc('day', ts) AS k, sum(value) AS s,
                count(*) AS c
         FROM events GROUP BY 1
       )
       SELECT round(min(s), 4) AS st_min, round(max(s), 4) AS st_max,
              round(avg(s), 4) AS st_avg, round(sum(s), 4) AS st_sum,
              count(s) AS st_count, round(avg(c), 4) AS avg_docs
       FROM b""",
)
def dsl_stats_bucket(spark, sf_dir):
    """ES sibling pipeline aggs (stats_bucket + avg_bucket): reduce a
    date_histogram▸sum bucket stream to one summary row — a second
    tiny aggregate over the already-reduced frame, zero extra passes
    over the corpus."""
    from . import dsl

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
    out = dsl.search(spark, _T(spark, sf_dir, "events"), body)
    return out.select(
        F.round("st_min", 4).alias("st_min"),
        F.round("st_max", 4).alias("st_max"),
        F.round("st_avg", 4).alias("st_avg"),
        F.round("st_sum", 4).alias("st_sum"),
        "st_count",
        F.round("avg_docs", 4).alias("avg_docs"),
    )


@q(
    "dsl_multi_terms",
    """WITH b AS (
         SELECT event_type, user_id, count(*) AS doc_count
         FROM events GROUP BY 1, 2
         ORDER BY doc_count DESC, event_type, user_id LIMIT 5
       )
       SELECT e.event_type, e.user_id,
              round(avg(e.value), 4) AS value, count(*) AS doc_count
       FROM events e JOIN b USING (event_type, user_id)
       GROUP BY 1, 2""",
)
def dsl_multi_terms(spark, sf_dir):
    """ES ``multi_terms`` (dsl.py multi_terms branch): composite bucket
    key over several fields, top-n by doc_count then keys — one groupBy
    over the field tuple + one bucket-level window; sub-aggs run over
    the surviving buckets via a broadcast semi-join, the terms plan
    shape exactly."""
    from . import dsl

    body = {
        "size": 0,
        "aggs": {
            "mt": {
                "multi_terms": {
                    "terms": [{"field": "event_type"},
                              {"field": "user_id"}],
                    "size": 5,
                },
                "aggs": {"m": {"avg": {"field": "value"}}},
            }
        },
    }
    out = dsl.search(spark, _T(spark, sf_dir, "events"), body)
    return out.select(
        "event_type", "user_id", F.round("value", 4).alias("value"),
        "doc_count",
    )


@q(
    "dsl_rare_terms",
    """SELECT user_id, round(max(value), 4) AS value, count(*) AS doc_count
       FROM events GROUP BY user_id HAVING count(*) <= 2""",
)
def dsl_rare_terms(spark, sf_dir):
    """ES ``rare_terms`` (dsl.py rare_terms branch): the long tail —
    values with doc_count ≤ max_doc_count. ES bounds memory with an
    approximate CuckooFilter; exact here (one groupBy + filter), the
    same exact-by-default policy as cardinality/percentiles."""
    from . import dsl

    body = {
        "size": 0,
        "aggs": {
            "rt": {
                "rare_terms": {"field": "user_id", "max_doc_count": 2},
                "aggs": {"m": {"max": {"field": "value"}}},
            }
        },
    }
    out = dsl.search(spark, _T(spark, sf_dir, "events"), body)
    return out.select("user_id", F.round("value", 4).alias("value"),
                      "doc_count")


@q(
    "dsl_string_stats",
    """WITH chars AS (
         SELECT unnest(split(source, '')) AS ch FROM documents
       ),
       freq AS (SELECT ch, count(*)::DOUBLE AS c FROM chars GROUP BY 1),
       tot AS (SELECT sum(c) AS t FROM freq)
       SELECT (SELECT count(source) FROM documents) AS count,
              (SELECT min(length(source)) FROM documents) AS min_length,
              (SELECT max(length(source)) FROM documents) AS max_length,
              (SELECT round(avg(length(source)), 4) FROM documents)
                  AS avg_length,
              round(-sum((c / t) * log2(c / t)), 4) AS entropy
       FROM freq, tot""",
)
def dsl_string_stats(spark, sf_dir):
    """ES ``string_stats`` (dsl.py string_stats branch): length stats in
    one pass + Shannon entropy (bits) over the character distribution —
    a char-explode and two bucket-level aggregates, rows ∝ total
    characters (the honest lower bound for a character histogram)."""
    from . import dsl

    body = {"size": 0, "aggs": {"ss": {"string_stats": {"field": "source"}}}}
    out = dsl.search(spark, _T(spark, sf_dir, "documents"), body)
    return out.select(
        "count", "min_length", "max_length",
        F.round("avg_length", 4).alias("avg_length"),
        F.round("entropy", 4).alias("entropy"),
    )


@q(
    "dsl_mad",
    """WITH med AS (
         SELECT event_type, quantile_cont(value, 0.5) AS m
         FROM events GROUP BY 1
       )
       SELECT e.event_type,
              round(quantile_cont(abs(e.value - med.m), 0.5), 4) AS value,
              count(*) AS doc_count
       FROM events e JOIN med USING (event_type)
       GROUP BY 1""",
)
def dsl_mad(spark, sf_dir):
    """ES ``median_absolute_deviation`` per terms bucket (dsl.py MAD
    branch): median(|x − median(x)|) — two aggregate passes with the
    per-bucket medians broadcast back onto the rows (the inner median is
    itself an aggregate; no single pass can nest it). Exact by default,
    ``approx: true`` → percentile_approx at scale."""
    from . import dsl

    body = {
        "size": 0,
        "aggs": {
            "by": {
                "terms": {"field": "event_type", "size": 10},
                "aggs": {
                    "m": {"median_absolute_deviation": {"field": "value"}}
                },
            }
        },
    }
    out = dsl.search(spark, _T(spark, sf_dir, "events"), body)
    return out.select("event_type", F.round("value", 4).alias("value"),
                      "doc_count")


@q(
    "dsl_boxplot_top_metrics",
    """WITH latest AS (
         SELECT event_type, value,
                row_number() OVER (PARTITION BY event_type
                                   ORDER BY ts DESC, event_id ASC) AS rn
         FROM events
       )
       SELECT e.event_type,
              round(min(e.value), 4) AS bx_min,
              round(quantile_cont(e.value, 0.25), 4) AS bx_q1,
              round(quantile_cont(e.value, 0.5), 4) AS bx_q2,
              round(quantile_cont(e.value, 0.75), 4) AS bx_q3,
              round(max(e.value), 4) AS bx_max,
              round(any_value(l.value), 4) AS tm_value,
              count(*) AS doc_count
       FROM events e
       JOIN (SELECT event_type, value FROM latest WHERE rn = 1) l
         USING (event_type)
       GROUP BY 1""",
)
def dsl_boxplot_top_metrics(spark, sf_dir):
    """ES ``boxplot`` + ``top_metrics`` as sibling metric leaves under
    one terms agg — min/max/q1/q2/q3 (exact percentiles, approx: true →
    t-digest-style sketch) and the latest-by-sort metric value via ONE
    max_by pass (no window, no row materialization), ties pinned by
    id_col for cross-engine determinism."""
    from . import dsl

    body = {
        "size": 0,
        "aggs": {
            "by": {
                "terms": {"field": "event_type", "size": 10},
                "aggs": {
                    "bx": {"boxplot": {"field": "value"}},
                    "tm": {
                        "top_metrics": {
                            "metrics": [{"field": "value"}],
                            "sort": [{"ts": "desc"}],
                        }
                    },
                },
            }
        },
    }
    out = dsl.search(spark, _T(spark, sf_dir, "events"), body,
                     id_col="event_id")
    return out.select(
        "event_type",
        F.round("bx_min", 4).alias("bx_min"),
        F.round("bx_q1", 4).alias("bx_q1"),
        F.round("bx_q2", 4).alias("bx_q2"),
        F.round("bx_q3", 4).alias("bx_q3"),
        F.round("bx_max", 4).alias("bx_max"),
        F.round("tm_value", 4).alias("tm_value"),
        "doc_count",
    )


@q(
    "dsl_regexp",
    "SELECT doc_id, source FROM documents "
    "WHERE regexp_full_match(source, 'src1[0-9]') ORDER BY doc_id LIMIT 500",
)
def dsl_regexp(spark, sf_dir):
    """ES/Lucene ``regexp`` leaf (dsl.py:115): ANCHORED — the pattern must
    match the entire field value (Lucene has no ^/$), hence rlike with
    explicit anchors vs DuckDB regexp_full_match."""
    from . import dsl

    body = {
        "query": {"regexp": {"source": "src1[0-9]"}},
        "sort": [{"doc_id": "asc"}],
        "size": 500,
        "_source": ["doc_id", "source"],
    }
    return dsl.search(spark, _T(spark, sf_dir, "documents"), body)


@q(
    "dsl_fuzzy",
    "SELECT count(*) AS n FROM events WHERE levenshtein(event_type, 'clck') <= 1",
    extra=True,  # demoted r5: dsl_regexp keeps the vocabulary-predicate
    # leaf shape driver-gated; dsl_query_string takes the slot
)
def dsl_fuzzy(spark, sf_dir):
    """ES ``fuzzy`` leaf with AUTO fuzziness (dsl.py:124): edit distance
    by term length (0 for 1-2 chars, 1 for 3-5, 2 for 6+); 'clck' → 1."""
    from . import dsl

    body = {"query": {"fuzzy": {"event_type": {"value": "clck", "fuzziness": "AUTO"}}}}
    return dsl.count(spark, _T(spark, sf_dir, "events"), body)


@q(
    "dsl_range_agg",
    """WITH buckets AS (
         SELECT '*-20' AS vr_key, value FROM events WHERE value < 20
         UNION ALL
         SELECT '20-60', value FROM events WHERE value >= 20 AND value < 60
         UNION ALL
         SELECT '50-*', value FROM events WHERE value >= 50
       )
       SELECT vr_key, round(avg(value), 4) AS avg_value,
              count(*) AS doc_count
       FROM buckets GROUP BY vr_key""",
)
def dsl_range_agg(spark, sf_dir):
    """ES ``range`` agg with a metric sub-agg (dsl.py range branch):
    each range evaluated independently (from inclusive / to exclusive,
    the 50-60 overlap counts docs in BOTH buckets), compiled to one
    exploded-tag groupBy — a single shuffle for any number of ranges."""
    from . import dsl

    body = {
        "size": 0,
        "aggs": {
            "vr": {
                "range": {
                    "field": "value",
                    "ranges": [{"to": 20}, {"from": 20, "to": 60}, {"from": 50}],
                },
                "aggs": {"avg_v": {"avg": {"field": "value"}}},
            }
        },
    }
    out = dsl.search(spark, _T(spark, sf_dir, "events"), body, id_col="event_id")
    return out.select(
        "vr_key", F.round(F.col("value"), 4).alias("avg_value"), "doc_count"
    )


@q(
    "dsl_filters_agg",
    "SELECT 'big' AS by_key, count(*) AS doc_count FROM events WHERE value >= 90 "
    "UNION ALL "
    "SELECT 'clicks', count(*) FROM events WHERE event_type = 'click'",
    extra=True,  # demoted r5: dsl_range_agg keeps the conditional-bucket shape gated
)
def dsl_filters_agg(spark, sf_dir):
    """ES ``filters`` agg (dsl.py filters branch): named sub-queries as
    independent overlapping buckets, same exploded-tag single-shuffle
    plan as range."""
    from . import dsl

    body = {
        "size": 0,
        "aggs": {
            "by": {
                "filters": {
                    "filters": {
                        "clicks": {"term": {"event_type": "click"}},
                        "big": {"range": {"value": {"gte": 90}}},
                    }
                }
            }
        },
    }
    return dsl.search(spark, _T(spark, sf_dir, "events"), body, id_col="event_id")


def _significant_terms_oracle_sql(size: int = 8, min_doc: int = 3) -> str:
    """DuckDB twin of dsl.py significant_terms: distinct tokens per doc,
    doc-frequency contrast of the must_not-lang-en foreground vs the
    whole table, ES-default JLH score, fg%>bg% only, same rounding and
    (score desc, term asc) total order."""
    from .analyze import oracle_tokens_sql

    return f"""
        WITH toks AS (
            SELECT DISTINCT doc_id, term FROM ({oracle_tokens_sql()})
        ),
        fg_docs AS (
            SELECT doc_id FROM documents WHERE lang IS DISTINCT FROM 'en'
        ),
        fg AS (
            SELECT term, count(*) AS doc_count
            FROM toks JOIN fg_docs USING (doc_id) GROUP BY term
        ),
        bg AS (SELECT term, count(*) AS bg_count FROM toks GROUP BY term),
        tot AS (
            SELECT (SELECT count(*) FROM fg_docs) AS fg_tot,
                   (SELECT count(*) FROM documents) AS bg_tot
        ),
        scored AS (
            SELECT term, doc_count, bg_count,
                   round(((doc_count * 1.0 / fg_tot) - (bg_count * 1.0 / bg_tot))
                         * ((doc_count * 1.0 / fg_tot) / (bg_count * 1.0 / bg_tot)),
                         6) AS score
            FROM fg JOIN bg USING (term), tot
            WHERE doc_count >= {min_doc}
        )
        SELECT term, doc_count, bg_count, score FROM scored
        WHERE score > 0
        ORDER BY score DESC, term ASC LIMIT {size}
    """


@q("dsl_significant_terms", None)
def dsl_significant_terms(spark, sf_dir):
    """ES ``significant_terms`` over analyzed text tokens (dsl.py
    significant_terms branch): JLH-scored doc-frequency contrast of the
    non-English foreground vs the whole corpus. Two grouped counts +
    one join; totals ride broadcast 1-row crossJoins — scales as two
    aggregations of the token table, no driver round-trip."""
    from . import dsl

    body = {
        "size": 0,
        "query": {"bool": {"must_not": [{"term": {"lang": "en"}}]}},
        "aggs": {"sig": {"significant_terms": {"field": "text", "size": 8}}},
    }
    return dsl.search(spark, _T(spark, sf_dir, "documents"), body)


ORACLES["dsl_significant_terms"] = _significant_terms_oracle_sql()


def _significant_text_oracle_sql(size: int = 8, min_doc: int = 3) -> str:
    """Twin of dsl significant_text with filter_duplicate_text: the
    FOREGROUND sample dedupes exact-duplicate texts (md5, min doc_id
    survives) before the JLH contrast; background stays undeduped."""
    from .analyze import oracle_tokens_sql

    return f"""
        WITH toks AS (
            SELECT DISTINCT doc_id, term FROM ({oracle_tokens_sql()})
        ),
        fg_docs AS (
            SELECT min(doc_id) AS doc_id FROM documents
            WHERE lang = 'fr' GROUP BY md5(text)
        ),
        fg AS (
            SELECT term, count(*) AS doc_count
            FROM toks JOIN fg_docs USING (doc_id) GROUP BY term
        ),
        bg AS (SELECT term, count(*) AS bg_count FROM toks GROUP BY term),
        tot AS (
            SELECT (SELECT count(*) FROM fg_docs) AS fg_tot,
                   (SELECT count(*) FROM documents) AS bg_tot
        ),
        scored AS (
            SELECT term, doc_count, bg_count,
                   round(((doc_count * 1.0 / fg_tot) - (bg_count * 1.0 / bg_tot))
                         * ((doc_count * 1.0 / fg_tot) / (bg_count * 1.0 / bg_tot)),
                         6) AS score
            FROM fg JOIN bg USING (term), tot
            WHERE doc_count >= {min_doc}
        )
        SELECT term, doc_count, bg_count, score FROM scored
        WHERE score > 0
        ORDER BY score DESC, term ASC LIMIT {size}
    """


@q("dsl_significant_text", _significant_text_oracle_sql(), extra=True)
def dsl_significant_text(spark, sf_dir):
    """ES ``significant_text`` (dsl.py): significant_terms semantics
    over query-time re-analyzed text (no fielddata — this engine always
    re-analyzes), plus ``filter_duplicate_text``: the foreground sample
    drops exact-duplicate texts (md5 partition, first doc survives)
    before counting, ES's boilerplate guard. Background undeduped, as in
    ES."""
    from . import dsl

    body = {
        "size": 0,
        "query": {"term": {"lang": "fr"}},
        "aggs": {"sig": {"significant_text": {
            "field": "text", "size": 8, "filter_duplicate_text": True,
        }}},
    }
    return dsl.search(spark, _T(spark, sf_dir, "documents"), body)


@q(
    "stats_agg",
    "SELECT round(min(l_extendedprice), 4) AS min_v, round(max(l_extendedprice), 4) AS max_v, "
    "round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)"
    " / count(l_extendedprice), 4) AS avg_v, "
    "round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 4) AS sum_v, "
    "count(l_extendedprice) AS n FROM lineitem",
)
def stats_agg(spark, sf_dir):
    """A7 ES stats agg — min/max/avg/sum/count one pass (elasticsearch.py:15-42).
    sum/avg computed over exact DECIMAL so the hash is summation-order-free."""
    dec = F.col("l_extendedprice").cast("decimal(18,2)")
    return _T(spark, sf_dir, "lineitem").agg(
        F.round(F.min("l_extendedprice"), 4).alias("min_v"),
        F.round(F.max("l_extendedprice"), 4).alias("max_v"),
        F.round(F.sum(dec).cast("double") / F.count("l_extendedprice"), 4).alias("avg_v"),
        F.round(F.sum(dec).cast("double"), 4).alias("sum_v"),
        F.count("l_extendedprice").alias("n"),
    )


@q(
    "histogram2d_mode",
    """WITH binned AS (
         SELECT CAST(floor(l_quantity / 5) AS BIGINT) AS binx,
                CAST(floor(l_extendedprice / 10000) AS BIGINT) AS biny,
                l_returnflag, count(*) AS n
         FROM lineitem GROUP BY 1, 2, 3
       ), ranked AS (
         SELECT binx, biny, l_returnflag AS mode_flag, n,
                row_number() OVER (PARTITION BY binx, biny
                                   ORDER BY n DESC, l_returnflag ASC) AS rn,
                CAST(sum(n) OVER (PARTITION BY binx, biny) AS BIGINT) AS bin_count
         FROM binned
       )
       SELECT binx, biny, bin_count, mode_flag FROM ranked WHERE rn = 1""",
    extra=True,  # demoted r5: dsl_histogram_mode gates the same A8 shape
)
def histogram2d_mode(spark, sf_dir):
    """A8/A9 two-level histogram + per-bin mode (mira_loader.py:262-319).

    The reference's 7-query ES msearch collapses into ONE groupBy +
    window (SURVEY §3.3): histogram ≙ floor-div bucketing, terms(size=1)
    ≙ row_number()=1, min_doc_count=1 ≙ only observed bins.
    """
    li = _T(spark, sf_dir, "lineitem")
    binned = (
        li.select(
            F.floor(F.col("l_quantity") / 5).alias("binx"),
            F.floor(F.col("l_extendedprice") / 10000).alias("biny"),
            "l_returnflag",
        )
        .groupBy("binx", "biny", "l_returnflag")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("binx", "biny")
    return (
        binned.withColumn(
            "rn",
            F.row_number().over(w.orderBy(F.desc("n"), F.asc("l_returnflag"))),
        )
        .withColumn("bin_count", F.sum("n").over(w))
        .filter(F.col("rn") == 1)
        .select("binx", "biny", "bin_count", F.col("l_returnflag").alias("mode_flag"))
    )


@q(
    "exists_check",
    "SELECT count(*) > 0 AS found FROM orders "
    "WHERE o_orderstatus = 'F' AND o_orderdate >= TIMESTAMP '1997-01-01'",
    extra=True,  # demoted r5: redundant twin, driver cap at 50 (judge r4 #1)
)
def exists_check(spark, sf_dir):
    """A10 exists under term+range filter (mira/elasticsearch.py:96-127)."""
    return (
        _T(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderstatus") == "F")
            & (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        )
        .agg((F.count(F.lit(1)) > 0).alias("found"))
    )


@q(
    "nested_collect",
    """SELECT o_orderkey, string_agg(l_partkey::VARCHAR, ',' ORDER BY l_partkey) AS parts
       FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       WHERE o_custkey < 50 GROUP BY o_orderkey""",
)
def nested_collect(spark, sf_dir):
    """A2/D3 grouped nesting (mira_loader.py:239-250 get_records).

    The reference's per-group to_dict('records') ≙ collect_list(struct);
    serialized as a sorted CSV string so the oracle compare is exact.
    """
    li = _T(spark, sf_dir, "lineitem")
    o = _T(spark, sf_dir, "orders").filter(F.col("o_custkey") < 50)
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderkey")
        .agg(
            F.concat_ws(
                ",", F.transform(F.sort_array(F.collect_list("l_partkey")), lambda x: x.cast("string"))
            ).alias("parts")
        )
    )


# ---------------------------------------------------------------------------
# §2.6 sorts / top-k  (reference: mira/elasticsearch.py:45-61)
# ---------------------------------------------------------------------------


@q(
    "sort_limit",
    "SELECT o_orderkey, round(o_totalprice, 4) AS price FROM orders "
    "ORDER BY round(o_totalprice, 4) DESC, o_orderkey ASC LIMIT 100",
)
def sort_limit(spark, sf_dir):
    """T1 sort+size top-k (get_genes, elasticsearch.py:45-61) — TakeOrdered."""
    return (
        _T(spark, sf_dir, "orders")
        .select("o_orderkey", F.round("o_totalprice", 4).alias("price"))
        .orderBy(F.desc("price"), F.asc("o_orderkey"))
        .limit(100)
    )


@q(
    "topk_per_group",
    """SELECT user_id, event_id, round(value, 4) AS value FROM (
         SELECT user_id, event_id, value,
                row_number() OVER (PARTITION BY user_id
                                   ORDER BY value DESC, event_id ASC) AS rn
         FROM events) WHERE rn = 1""",
    extra=True,  # demoted r5: dsl_top_hits gates the same windowed top-n shape
)
def topk_per_group(spark, sf_dir):
    """terms(size=1) per group ≙ windowed top-1 (SURVEY A8)."""
    w = Window.partitionBy("user_id").orderBy(F.desc("value"), F.asc("event_id"))
    return (
        _T(spark, sf_dir, "events")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", F.round("value", 4).alias("value"))
    )


# ---------------------------------------------------------------------------
# §2.8 scalar functions  (reference: alhena_loader.py:48-77; mira_data.py)
# ---------------------------------------------------------------------------


@q(
    "ratio_projection",
    "SELECT l_orderkey, l_linenumber, "
    "floor(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 10000) / 10000 AS charged "
    "FROM lineitem",
    extra=True,  # demoted r5: redundant twin, driver cap at 50 (judge r4 #1)
)
def ratio_projection(spark, sf_dir):
    """F5/F8 ratio + rounding (alhena_loader.py:48; mira_loader.py:151).

    Quantized by floor (not round): round()'s half-way behavior differs
    between engines at binary-float boundaries (observed: 17947.60995 →
    .6100 in Spark, .6099 in DuckDB); floor on the identical IEEE double
    is deterministic.
    """
    return _T(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        (
            F.floor(
                F.col("l_extendedprice")
                * (1 - F.col("l_discount"))
                * (1 + F.col("l_tax"))
                * 10000
            )
            / 10000
        ).alias("charged"),
    )


@q(
    "when_encode",
    "SELECT event_id, CASE event_type WHEN 'click' THEN 'C' WHEN 'view' THEN 'V' "
    "WHEN 'error' THEN 'E' ELSE 'O' END AS code FROM events",
    extra=True,  # demoted r5: redundant twin, driver cap at 50 (judge r4 #1)
)
def when_encode(spark, sf_dir):
    """F3 dict-encode categorical (SORT_ENCODER, mira_data.py:26-27)."""
    e = F.col("event_type")
    return _T(spark, sf_dir, "events").select(
        "event_id",
        F.when(e == "click", "C")
        .when(e == "view", "V")
        .when(e == "error", "E")
        .otherwise("O")
        .alias("code"),
    )


@q(
    "unpivot_melt",
    """SELECT l_orderkey, l_linenumber, metric, round(value, 4) AS value FROM (
         SELECT l_orderkey, l_linenumber, 'quantity' AS metric, l_quantity AS value FROM lineitem
         UNION ALL
         SELECT l_orderkey, l_linenumber, 'discount', l_discount FROM lineitem
         UNION ALL
         SELECT l_orderkey, l_linenumber, 'tax', l_tax FROM lineitem)""",
    extra=True,  # demoted r5: F12 green r04; pivot_wide keeps F13 gated
)
def unpivot_melt(spark, sf_dir):
    """F12 wide→long unpivot (alhena_loader.py:66-77 gc_bias stack)."""
    li = _T(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.expr(
            "stack(3, 'quantity', l_quantity, 'discount', l_discount, 'tax', l_tax) "
            "AS (metric, value)"
        ),
    ).select("l_orderkey", "l_linenumber", "metric", F.round("value", 4).alias("value"))


@q(
    "pivot_wide",
    """SELECT o_orderpriority,
              round(CAST(sum(CASE WHEN o_orderstatus = 'F'
                             THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE), 4) AS f,
              round(CAST(sum(CASE WHEN o_orderstatus = 'O'
                             THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE), 4) AS o,
              round(CAST(sum(CASE WHEN o_orderstatus = 'P'
                             THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE), 4) AS p
       FROM orders GROUP BY o_orderpriority""",
)
def pivot_wide(spark, sf_dir):
    """F13 long→wide pivot / transpose-with-header-promotion
    (mira_data.py:231-240) — groupBy().pivot() with an EXPLICIT value
    list (one partial+final agg, no extra distinct-values job; the
    scale-safe pivot form).

    Sums run in DECIMAL(18,2) so the result is exact and independent of
    partial-aggregation order (double sums flip a 4-decimal rounding
    boundary nondeterministically at 1e8 magnitude)."""
    return (
        _T(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double"), 4))
        # Spark names pivot columns after the literal values (`F`/`O`/`P`);
        # DuckDB's unquoted aliases come back lowercase. The driver compare is
        # case-SENSITIVE on names, so emit lowercase to match the oracle.
        .toDF("o_orderpriority", "f", "o", "p")
    )


@q(
    "date_range_filter",
    "SELECT o_orderkey, o_orderdate FROM orders WHERE o_orderdate >= TIMESTAMP '1998-01-01'",
    extra=True,  # demoted r5: redundant twin, driver cap at 50 (judge r4 #1)
)
def date_range_filter(spark, sf_dir):
    """F11 date range predicate (mira/elasticsearch.py:113-120)."""
    return (
        _T(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("1998-01-01").cast("timestamp"))
        .select("o_orderkey", "o_orderdate")
    )


@q(
    "json_extract",
    "SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k FROM events",
    extra=True,  # demoted r5: F16 green r04; redundant twin, driver cap at 50
)
def json_extract(spark, sf_dir):
    """F16 JSON de/serialization (mira_data.py:194-209)."""
    return _T(spark, sf_dir, "events").select(
        "event_id", F.get_json_object("props", "$.k").cast("long").alias("k")
    )


# ---------------------------------------------------------------------------
# §2.9 full-text surface over documents (the rebuild target)
# ---------------------------------------------------------------------------

_TOKENS_CTE = f"""
    SELECT doc_id, t AS term
    FROM (SELECT doc_id,
                 unnest(regexp_split_to_array(lower(text), '{SPLIT_RE_DUCKDB}')) AS t
          FROM documents)
    WHERE t <> ''
"""


@q(
    "postings",
    f"SELECT term, doc_id, count(*) AS tf FROM ({_TOKENS_CTE}) GROUP BY term, doc_id",
)
def postings(spark, sf_dir):
    """X1 inverted-index long form (ES implicit index build)."""
    return postings_long(_T(spark, sf_dir, "documents"))


@q(
    "doc_lengths",
    f"SELECT doc_id, count(*) AS dl FROM ({_TOKENS_CTE}) GROUP BY doc_id",
    extra=True,  # demoted r5: X1 gated by `postings`; dl checked in bm25 rows
)
def doc_lengths_q(spark, sf_dir):
    """Lucene field-length norms."""
    return doc_lengths(_T(spark, sf_dir, "documents")).select(
        "doc_id", F.col("dl").cast("long").alias("dl")
    )


@q(
    "term_doc_freq",
    f"SELECT term, count(DISTINCT doc_id) AS df FROM ({_TOKENS_CTE}) GROUP BY term",
    extra=True,  # demoted r5: X1 gated by `postings`; df checked in bm25 rows
)
def term_doc_freq(spark, sf_dir):
    """Document frequency per term (idf input)."""
    return term_df(postings_long(_T(spark, sf_dir, "documents")))


@q(
    "term_filter",
    f"SELECT DISTINCT doc_id FROM ({_TOKENS_CTE}) WHERE term = 'spark'",
)
def term_filter(spark, sf_dir):
    """X2 exact term filter (mira/elasticsearch.py:83-89)."""
    return (
        tokens_df(_T(spark, sf_dir, "documents"))
        .filter(F.col("term") == "spark")
        .select("doc_id")
        .distinct()
    )


@q(
    "bool_filter",
    f"""SELECT d.doc_id FROM documents d
        WHERE d.lang = 'en'
          AND EXISTS (SELECT 1 FROM ({_TOKENS_CTE}) t
                      WHERE t.doc_id = d.doc_id AND t.term = 'spark')
          AND EXISTS (SELECT 1 FROM ({_TOKENS_CTE}) t
                      WHERE t.doc_id = d.doc_id AND t.term = 'data')""",
)
def bool_filter(spark, sf_dir):
    """X3 bool.must compound filter (mira/elasticsearch.py:104-124)."""
    docs = _T(spark, sf_dir, "documents")
    toks = tokens_df(docs)
    has_spark = toks.filter(F.col("term") == "spark").select("doc_id").distinct()
    has_data = toks.filter(F.col("term") == "data").select("doc_id").distinct()
    return (
        docs.filter(F.col("lang") == "en")
        .join(has_spark, "doc_id", "left_semi")
        .join(has_data, "doc_id", "left_semi")
        .select("doc_id")
    )


@q(
    "term_filter_indexed",
    f"SELECT DISTINCT doc_id FROM ({_TOKENS_CTE}) WHERE term = 'spark'",
    extra=True,  # twin of term_filter; index-serving evidenced by term_count_indexed
)
def term_filter_indexed(spark, sf_dir):
    """X2 exact term filter served by the COMPRESSED index itself
    (posting-list lookup with parquet term pushdown), not a token scan."""
    from .merge import merged_postings

    return (
        merged_postings(spark, _ensure_index(spark, sf_dir), ["spark"])
        .select("doc_id")
        .distinct()
    )


@q(
    "term_count_indexed",
    f"SELECT count(DISTINCT doc_id) AS n FROM ({_TOKENS_CTE}) WHERE term = 'spark'",
)
def term_count_indexed(spark, sf_dir):
    """A6 filtered count answered from the term-stats table alone —
    the O(1) metadata lookup ES does for count queries."""
    tdf = spark.read.parquet(f"{_ensure_index(spark, sf_dir)}/terms")
    return tdf.filter(F.col("term") == "spark").select(
        F.col("df").cast("long").alias("n")
    )


@q(
    "phrase_match",
    f"""WITH tok AS (
         SELECT doc_id,
                unnest(list_transform(generate_series(1, len(toks)),
                                      i -> {{'term': toks[i], 'pos': i - 1}}),
                       recursive := true)
         FROM (SELECT doc_id,
                      list_filter(regexp_split_to_array(lower(text), '{SPLIT_RE_DUCKDB}'),
                                  x -> x <> '') AS toks
               FROM documents)
       )
       SELECT DISTINCT a.doc_id
       FROM tok a JOIN tok b
         ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
       WHERE a.term = 'the' AND b.term = 'data'""",
    extra=True,  # scan-served twin; phrase_match_indexed (same oracle) is primary
)
def phrase_match(spark, sf_dir):
    """Positional phrase match: docs where 'the data' occur adjacently.

    Uses the analyzer's token positions (analyze.tokens_df emits pos) —
    the positional-index capability layered on the same tokenization;
    expressed as a self-join on (doc, pos+1), all JVM.
    """
    toks = tokens_df(_T(spark, sf_dir, "documents"))
    a = toks.filter(F.col("term") == "the").select("doc_id", F.col("pos").alias("pa"))
    b = toks.filter(F.col("term") == "data").select("doc_id", F.col("pos").alias("pb"))
    return (
        a.join(b, "doc_id")
        .filter(F.col("pb") == F.col("pa") + 1)
        .select("doc_id")
        .distinct()
    )


@q("phrase_match_indexed", None)  # oracle attached below (same SQL twin)
def phrase_match_indexed(spark, sf_dir):
    """Positional phrase match answered FROM THE COMPRESSED INDEX
    (phrase.py): term-pushdown block read + positional decode +
    Catalyst array-intersect adjacency — no raw-text re-scan (VERDICT
    r01 gap #1; ES answers phrases from Lucene's positional index)."""
    from .phrase import phrase_docs

    return phrase_docs(spark, _ensure_index(spark, sf_dir), "the data")


ORACLES["phrase_match_indexed"] = EXTRA_ORACLES["phrase_match"]


@q(
    "phrase_prefix_indexed",
    f"""WITH tok AS (
         SELECT doc_id,
                unnest(list_transform(generate_series(1, len(toks)),
                                      i -> {{'term': toks[i], 'pos': i - 1}}),
                       recursive := true)
         FROM (SELECT doc_id,
                      list_filter(regexp_split_to_array(lower(text), '{SPLIT_RE_DUCKDB}'),
                                  x -> x <> '') AS toks
               FROM documents)
       ),
       exps AS (
         SELECT term FROM (SELECT DISTINCT term FROM tok WHERE term LIKE 's%')
         ORDER BY term LIMIT 50
       )
       SELECT DISTINCT a.doc_id
       FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
       WHERE a.term = 'the' AND b.term IN (SELECT term FROM exps)""",
    extra=True,  # rotation candidate; gated via the r5 final gate pass
)
def phrase_prefix_indexed(spark, sf_dir):
    """ES ``match_phrase_prefix`` 'the s' (dsl.py / phrase.py
    phrase_prefix_docs): last token expanded against the index term
    dictionary (pushdown StartsWith scan, capped in term order), head
    matched positionally — all from compressed postings, no text scan."""
    from . import dsl

    body = {"query": {"match_phrase_prefix": {"text": "the s"}}, "size": 50000,
            "_source": ["doc_id"]}
    return dsl.search(
        spark,
        _T(spark, sf_dir, "documents"),
        body,
        index_dir=_ensure_index(spark, sf_dir),
    )


BM25_QUERY = "spark query data table"
BM25_K = 20


@q("bm25_topk", bm25_topk_oracle_sql(BM25_QUERY, k=BM25_K))
def bm25_topk_q(spark, sf_dir):
    """X4 BM25 relevance top-k — exact join scorer (SURVEY §7 step 3)."""
    docs = _T(spark, sf_dir, "documents")
    p = postings_long(docs)
    dl = doc_lengths(docs)
    stats = corpus_stats(dl)
    return bm25_topk(spark, p, dl, term_df(p), stats, BM25_QUERY, k=BM25_K)


SQS_QUERY = 'spark +stream -merge "the data" quer*'


def _sqs_oracle_sql(k: int = 10) -> str:
    """DuckDB twin of dsl_simple_query_string: BM25 over the bare +
    required terms ('spark stream'), candidates restricted exactly as
    the engine restricts them — required term, exclusion, phrase
    adjacency, prefix containment."""
    phrase_in = f"""p.doc_id IN (
        WITH tok AS (
          SELECT doc_id,
                 unnest(list_transform(generate_series(1, len(toks)),
                                       i -> {{'term': toks[i], 'pos': i - 1}}),
                        recursive := true)
          FROM (SELECT doc_id,
                       list_filter(regexp_split_to_array(lower(text), '{SPLIT_RE_DUCKDB}'),
                                   x -> x <> '') AS toks
                FROM documents))
        SELECT DISTINCT a.doc_id
        FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        WHERE a.term = 'the' AND b.term = 'data')"""
    cand = " AND ".join(
        [
            "p.doc_id IN (SELECT doc_id FROM postings WHERE term = 'stream')",
            "p.doc_id NOT IN (SELECT doc_id FROM postings WHERE term = 'merge')",
            phrase_in,
            "p.doc_id IN (SELECT doc_id FROM postings WHERE term LIKE 'quer%')",
        ]
    )
    return bm25_topk_oracle_sql("spark stream", k=k, candidate_clause=cand)


@q("dsl_simple_query_string", _sqs_oracle_sql(),
)
def dsl_simple_query_string(spark, sf_dir):
    """ES ``simple_query_string`` (dsl._sqs_topk): '+required' /
    '-excluded' / '"phrase"' / 'prefix*' operators as semi/anti-join
    candidate restrictions around the BM25 scorer."""
    from . import dsl

    body = {"query": {"simple_query_string": {"query": SQS_QUERY}}, "size": 10}
    return dsl.search(spark, _T(spark, sf_dir, "documents"), body)


QS_QUERY = (
    '(spark OR "key order")^2 AND batch* -lang:zh '
    'source:src3^1.5 n_chars:[120 TO 400]'
)

from .querystring import query_string_oracle_sql  # noqa: E402


@q("dsl_query_string", query_string_oracle_sql(QS_QUERY, k=15))
def dsl_query_string(spark, sf_dir):
    """ES ``query_string`` — the classic Lucene parser (querystring.py):
    AND/OR/NOT occur-flag booleans, a BM25 phrase leaf (tf = positional
    occurrence count), a constant-score prefix leaf, an idf-scored
    keyword term, a range leaf and clause boosts, compiled into ONE
    whole-stage-codegen expression over joined leaf columns. The oracle
    replays the identical compilation from the same parse tree in
    DuckDB SQL."""
    from . import dsl

    body = {"query": {"query_string": {"query": QS_QUERY}}, "size": 15}
    return dsl.search(spark, _T(spark, sf_dir, "documents"), body)


_SS_RAW = bm25_topk_oracle_sql("spark merge", raw=True)


@q(
    "dsl_script_score",
    f"""SELECT sc.doc_id,
              round(sc.score * ln(1 + d.n_chars) / 2, 4) AS score
       FROM ({_SS_RAW}) sc JOIN documents d USING (doc_id)
       ORDER BY round(sc.score * ln(1 + d.n_chars) / 2, 4) DESC, sc.doc_id
       LIMIT 12""",
)
def dsl_script_score(spark, sf_dir):
    """ES ``script_score`` (dsl._script_score_topk): the base match
    query's RAW score transformed by a painless-subset script over
    ``_score`` / ``doc['field'].value`` / ``params.*`` — compiled by the
    shared no-eval recursive-descent parser (Math.* → Catalyst), rounded
    once at the end. Base scored in full: the transform re-orders, so ES
    disables dynamic pruning here too."""
    from . import dsl

    body = {
        "query": {
            "script_score": {
                "query": {"match": {"text": "spark merge"}},
                "script": {
                    "source": "_score * Math.log1p(doc['n_chars'].value)"
                              " / params.d",
                    "params": {"d": 2},
                },
            }
        },
        "size": 12,
    }
    return dsl.search(spark, _T(spark, sf_dir, "documents"), body)


@q(
    "dsl_rank_feature",
    """WITH piv AS (
         SELECT exp(avg(ln(n_chars))) AS p FROM documents WHERE n_chars > 0
       )
       SELECT doc_id,
              round(1.5 * n_chars / (n_chars + piv.p), 4) AS score
       FROM documents, piv WHERE n_chars > 0
       ORDER BY round(1.5 * n_chars / (n_chars + piv.p), 4) DESC, doc_id
       LIMIT 10""",
)
def dsl_rank_feature(spark, sf_dir):
    """ES ``rank_feature`` saturation with the DEFAULT pivot — the
    geometric mean of the feature's positive values (exp∘avg∘ln, the
    same "approximate geometric mean" ES derives from index stats),
    computed in ONE metadata aggregate; score = boost·x/(x+pivot)."""
    from . import dsl

    body = {
        "query": {"rank_feature": {"field": "n_chars", "boost": 1.5}},
        "size": 10,
    }
    return dsl.search(spark, _T(spark, sf_dir, "documents"), body)


@q(
    "dsl_terms_set",
    f"""WITH tokens AS ({_TOKENS_CTE}),
       postings AS (SELECT term, doc_id, count(*)::DOUBLE AS tf
                    FROM tokens GROUP BY 1, 2),
       doc_lens AS (SELECT doc_id, count(*)::DOUBLE AS dl
                    FROM tokens GROUP BY 1),
       stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl
                 FROM doc_lens),
       tdf AS (SELECT term, count(*)::DOUBLE AS df FROM postings GROUP BY 1),
       scored AS (
         SELECT p.doc_id,
                sum(ln(1 + (s.n - f.df + 0.5) / (f.df + 0.5)) * p.tf * 2.2
                    / (p.tf + 1.2 * (0.25 + 0.75 * d.dl / s.avgdl))) AS score,
                count(DISTINCT p.term) AS nm
         FROM postings p JOIN tdf f USING (term)
         JOIN doc_lens d USING (doc_id) CROSS JOIN stats s
         WHERE p.term IN ('spark', 'merge', 'sort', 'crawl')
         GROUP BY 1)
       SELECT doc_id, round(score, 4) AS score
       FROM scored WHERE nm >= 3
       ORDER BY round(score, 4) DESC, doc_id LIMIT 12""",
)
def dsl_terms_set(spark, sf_dir):
    """ES ``terms_set`` (dsl._terms_set_topk): docs containing ≥ N of
    the given terms, BM25-scored over the matching terms; N from
    minimum_should_match_script (``params.num_terms`` bound into the
    shared script compiler). One postings pass computes both the score
    and the distinct-match count."""
    from . import dsl

    body = {
        "query": {
            "terms_set": {
                "text": {
                    "terms": ["spark", "merge", "sort", "crawl"],
                    "minimum_should_match_script": {
                        "source": "params.num_terms - 1"
                    },
                }
            }
        },
        "size": 12,
    }
    return dsl.search(spark, _T(spark, sf_dir, "documents"), body)


@q(
    "dsl_span_near",
    f"""WITH tokens AS ({_TOKENS_CTE}),
       pos AS (
         SELECT doc_id,
                unnest(list_transform(generate_series(1, len(toks)),
                                      i -> {{'term': toks[i], 'pos': i - 1}}),
                       recursive := true)
         FROM (SELECT doc_id,
                      list_filter(regexp_split_to_array(lower(text),
                                                        '{SPLIT_RE_DUCKDB}'),
                                  x -> x <> '') AS toks
               FROM documents)
       )
       SELECT DISTINCT a.doc_id
       FROM pos a JOIN pos b USING (doc_id)
       WHERE a.term = 'key' AND b.term = 'sort'
         AND a.pos < b.pos AND b.pos - a.pos - 1 <= 2
       ORDER BY a.doc_id LIMIT 50""",
)
def dsl_span_near(spark, sf_dir):
    """ES ``span_near`` (dsl._proximity_docs): span_term clauses
    co-occurring within slop, in order — an n-way positional self-join
    over term-pushdown position sets (Lucene SpanNearQuery's positional
    walk, relationally). Also serves ``intervals.match`` (ordered ≡
    in_order, max_gaps ≡ slop)."""
    from . import dsl

    body = {
        "query": {
            "span_near": {
                "clauses": [
                    {"span_term": {"text": "key"}},
                    {"span_term": {"text": "sort"}},
                ],
                "slop": 2,
                "in_order": True,
            }
        },
        "size": 50,
    }
    out = dsl.search(spark, _T(spark, sf_dir, "documents"), body)
    return out.select("doc_id")


from .querystring import query_string_oracle_sql as _qs_sql  # noqa: E402


@q("dsl_match_bool_prefix", _qs_sql("spark cra*", k=15))
def dsl_match_bool_prefix(spark, sf_dir):
    """ES ``match_bool_prefix``: the analyzed terms as bool SHOULD term
    clauses + the final (mid-type) term as a prefix clause — executed on
    the shared boolean-tree engine (querystring.execute_tree), so the
    oracle is literally the query_string twin of 'spark cra*'."""
    from . import dsl

    body = {"query": {"match_bool_prefix": {"text": "spark cra"}}, "size": 15}
    return dsl.search(spark, _T(spark, sf_dir, "documents"), body)


@q("dsl_explain_score", None, extra=True)
def dsl_explain_score(spark, sf_dir):
    """ES ``_explain`` (dsl.explain / bm25.bm25_explain): per-term BM25
    breakdown for doc 42 under the headline query — the summands whose
    rounded sum is bm25_topk's score for that doc. One pushdown-pruned
    postings read, no corpus re-score."""
    from . import dsl

    body = {"query": {"match": {"text": BM25_QUERY}}}
    return dsl.explain(spark, _T(spark, sf_dir, "documents"), 42, body)


from .bm25 import bm25_explain_oracle_sql  # noqa: E402

EXTRA_ORACLES["dsl_explain_score"] = bm25_explain_oracle_sql(BM25_QUERY, 42)


def _highlight_topk_oracle_sql(query: str, k: int) -> str:
    """DuckDB twin of a match query with highlight (first-fragment mode):
    the bm25 top-k joined back to documents, highlight computed by the
    SAME regex/window recipe (highlight.oracle_highlight_sql)."""
    from .analyze import tokenize_text
    from .highlight import oracle_highlight_sql

    hl = oracle_highlight_sql(
        "d.text",
        tokenize_text(query),
        number_of_fragments=1,
        fragment_size=80,
    )
    return f"""
        SELECT h.doc_id, h.score, {hl} AS highlight_text
        FROM ({bm25_topk_oracle_sql(query, k=k)}) h
        JOIN documents d USING (doc_id)
        ORDER BY h.score DESC, h.doc_id ASC
    """


@q("bm25_topk_highlight", _highlight_topk_oracle_sql(BM25_QUERY, BM25_K), extra=True)
def bm25_topk_highlight(spark, sf_dir):
    """ES highlight on a match query (highlight.py): the top-k page with
    an 80-char first-fragment highlight of the text field. The highlight
    is a pure Catalyst regexp expression over only the k joined rows —
    cost is O(k), independent of corpus size."""
    from . import dsl

    body = {
        "query": {"match": {"text": BM25_QUERY}},
        "size": BM25_K,
        "highlight": {
            "fields": {
                "text": {"number_of_fragments": 1, "fragment_size": 80}
            }
        },
    }
    return dsl.search(spark, _T(spark, sf_dir, "documents"), body)


# ---------------------------------------------------------------------------
# §2.9 X4+ compound scoring queries (dsl.py _COMPOUND_KINDS): dis_max /
# constant_score / boosting / function_score, plus collapse & rescore.
# All start from the UN-truncated BM25 relation (bm25.bm25_scores) because
# their transforms re-order — the SQL twins mirror that by wrapping the
# bm25 CTE with an effectively-unbounded LIMIT.
# ---------------------------------------------------------------------------

_ALL_ROWS = 1_000_000_000  # "no limit" for the bm25 CTE twin


def _bm25_all_sql(query: str) -> str:
    """Rounded full relation — for compounds that DON'T transform the
    score (collapse)."""
    return f"SELECT * FROM ({bm25_topk_oracle_sql(query, k=_ALL_ROWS)})"


def _bm25_raw_sql(query: str) -> str:
    """Raw full relation — compounds that transform the score must start
    from raw sums and round once (bm25.bm25_scores rounded=False)."""
    return f"SELECT * FROM ({bm25_topk_oracle_sql(query, raw=True)})"


_RESCORE_QUERY = "distributed query engine"


@q(
    "dsl_dis_max",
    f"""
WITH qa AS ({_bm25_raw_sql(BM25_QUERY)}),
qb AS (SELECT doc_id, 2.0::DOUBLE AS score FROM documents WHERE lang = 'en'),
u AS (SELECT * FROM qa UNION ALL SELECT * FROM qb),
agg AS (SELECT doc_id, max(score) AS mx, sum(score) AS sm FROM u GROUP BY doc_id)
SELECT doc_id, round(mx + 0.3 * (sm - mx), 4) AS score
FROM agg ORDER BY score DESC, doc_id ASC LIMIT 15
""",
)
def dsl_dis_max(spark, sf_dir):
    """ES ``dis_max`` (dsl.py:_dis_max_topk): best-subquery score +
    tie_breaker × (sum of the others). Subqueries here mix a scored
    ``match`` with a ``constant_score`` filter. Every subquery is scored
    in FULL (no per-branch k-truncation), so tie_breaker is exact —
    unlike multi_match, whose containment proof needs tie_breaker=0."""
    from . import dsl

    body = {
        "query": {
            "dis_max": {
                "queries": [
                    {"match": {"text": BM25_QUERY}},
                    {
                        "constant_score": {
                            "filter": {"term": {"lang": "en"}},
                            "boost": 2.0,
                        }
                    },
                ],
                "tie_breaker": 0.3,
            }
        },
        "size": 15,
    }
    return dsl.search(spark, _T(spark, sf_dir, "documents"), body)


@q(
    "dsl_constant_score",
    "SELECT doc_id, 1.5::DOUBLE AS score FROM documents WHERE lang = 'fr' "
    "ORDER BY score DESC, doc_id ASC LIMIT 12",
    extra=True,
)
def dsl_constant_score(spark, sf_dir):
    """ES ``constant_score``: the filter's matches at a fixed boost —
    the degenerate scoring query that turns any filter into a scored
    hit list (dsl.py:_sub_scores). Deterministic page via the engine-wide
    (score desc, doc_id asc) tiebreak."""
    from . import dsl

    body = {
        "query": {
            "constant_score": {"filter": {"term": {"lang": "fr"}}, "boost": 1.5}
        },
        "size": 12,
    }
    return dsl.search(spark, _T(spark, sf_dir, "documents"), body)


@q(
    "dsl_boosting",
    f"""
WITH pos AS ({_bm25_raw_sql(BM25_QUERY)}),
neg AS (SELECT doc_id, TRUE AS is_neg FROM documents WHERE lang = 'en')
SELECT p.doc_id,
       round(p.score * (CASE WHEN n.is_neg THEN 0.4 ELSE 1.0 END), 4) AS score
FROM pos p LEFT JOIN neg n USING (doc_id)
ORDER BY score DESC, doc_id ASC LIMIT 15
""",
    extra=True,  # demoted r5: dis_max/function_score keep the compound family gated
)
def dsl_boosting(spark, sf_dir):
    """ES ``boosting`` query (dsl.py:_boosting_topk): positive BM25 score,
    demoted (×negative_boost) — not excluded — for docs matching the
    negative clause. Positive is scored in full: demoted docs can be
    overtaken by ANY lower-ranked doc, so pre-truncation would be wrong."""
    from . import dsl

    body = {
        "query": {
            "boosting": {
                "positive": {"match": {"text": BM25_QUERY}},
                "negative": {"term": {"lang": "en"}},
                "negative_boost": 0.4,
            }
        },
        "size": 15,
    }
    return dsl.search(spark, _T(spark, sf_dir, "documents"), body)


@q(
    "dsl_function_score",
    f"""
WITH base AS ({_bm25_raw_sql(BM25_QUERY)})
SELECT b.doc_id,
       round(b.score * ln(1 + 0.01 * d.n_chars), 4) AS score
FROM base b JOIN documents d USING (doc_id)
ORDER BY score DESC, doc_id ASC LIMIT 15
""",
)
def dsl_function_score(spark, sf_dir):
    """ES ``function_score`` + ``field_value_factor`` (dsl.py:
    _function_score_topk): BM25 × log1p(0.01·n_chars) — the classic
    popularity/length boost. The base match is scored un-truncated
    (the multiplier re-orders; ES likewise disables WAND pruning here)."""
    from . import dsl

    body = {
        "query": {
            "function_score": {
                "query": {"match": {"text": BM25_QUERY}},
                "field_value_factor": {
                    "field": "n_chars",
                    "factor": 0.01,
                    "modifier": "log1p",
                    "missing": 1,
                },
            }
        },
        "size": 15,
    }
    return dsl.search(spark, _T(spark, sf_dir, "documents"), body)


@q(
    "dsl_function_score_weights",
    f"""
WITH base AS ({_bm25_raw_sql(BM25_QUERY)})
SELECT b.doc_id,
       CASE WHEN d.lang <> 'en' AND d.n_chars < 300 THEN round(b.score, 4)
            ELSE round(
              b.score * ((CASE WHEN d.lang = 'en' THEN 3.0 ELSE 0.0 END)
                       + (CASE WHEN d.n_chars >= 300 THEN 1.5 ELSE 0.0 END)), 4)
       END AS score
FROM base b JOIN documents d USING (doc_id)
ORDER BY score DESC, doc_id ASC LIMIT 15
""",
    extra=True,
)
def dsl_function_score_weights(spark, sf_dir):
    """ES ``function_score`` with filtered weight functions: matching
    functions combine via score_mode=sum, then boost_mode=multiply; a
    doc matching NO function keeps its query score unchanged (ES
    neutral-element semantics, pinned in dsl.py:_function_score_topk)."""
    from . import dsl

    body = {
        "query": {
            "function_score": {
                "query": {"match": {"text": BM25_QUERY}},
                "functions": [
                    {"filter": {"term": {"lang": "en"}}, "weight": 3.0},
                    {"filter": {"range": {"n_chars": {"gte": 300}}}, "weight": 1.5},
                ],
                "score_mode": "sum",
                "boost_mode": "multiply",
            }
        },
        "size": 15,
    }
    return dsl.search(spark, _T(spark, sf_dir, "documents"), body)


@q(
    "dsl_collapse",
    f"""
WITH base AS ({_bm25_all_sql(BM25_QUERY)}),
ranked AS (
    SELECT b.doc_id, b.score, d.lang,
           row_number() OVER (PARTITION BY d.lang
                              ORDER BY b.score DESC, b.doc_id ASC) AS rn
    FROM base b JOIN documents d USING (doc_id)
)
SELECT doc_id, score, lang FROM ranked WHERE rn = 1
ORDER BY score DESC, doc_id ASC LIMIT 5
""",
)
def dsl_collapse(spark, sf_dir):
    """ES field collapsing (``collapse``): one best hit per collapse-key
    (score desc, doc_id asc within key), then the global top-k over the
    survivors — one window over the full scored relation (dsl.py search
    collapse branch). Collapsing after a k-truncation would under-fill
    the page whenever a key repeats; this never does."""
    from . import dsl

    body = {
        "query": {"match": {"text": BM25_QUERY}},
        "collapse": {"field": "lang"},
        "size": 5,
    }
    return dsl.search(spark, _T(spark, sf_dir, "documents"), body)


@q(
    "dsl_rescore",
    f"""
WITH base AS ({_bm25_raw_sql(BM25_QUERY)}),
win AS (SELECT * FROM base ORDER BY round(score, 4) DESC, doc_id ASC LIMIT 30),
resc AS ({_bm25_raw_sql(_RESCORE_QUERY)})
SELECT w.doc_id,
       round(0.7 * w.score + 1.2 * coalesce(r.score, 0), 4) AS score
FROM win w LEFT JOIN resc r USING (doc_id)
ORDER BY score DESC, doc_id ASC LIMIT 10
""",
)
def dsl_rescore(spark, sf_dir):
    """ES ``rescore``: re-rank only the top window_size base-query hits
    with query_weight·base + rescore_query_weight·rescore score (dsl.py
    search rescore branch). The page must fit inside the window (loud
    refusal otherwise — mixing re-scored and un-rescored tails would be
    silently wrong)."""
    from . import dsl

    body = {
        "query": {"match": {"text": BM25_QUERY}},
        "rescore": {
            "window_size": 30,
            "query": {
                "rescore_query": {"match": {"text": _RESCORE_QUERY}},
                "query_weight": 0.7,
                "rescore_query_weight": 1.2,
            },
        },
        "size": 10,
    }
    return dsl.search(spark, _T(spark, sf_dir, "documents"), body)


@q(
    "bm25_topk_filtered",
    bm25_topk_oracle_sql(BM25_QUERY, k=BM25_K, filter_term="w0005"),
    extra=True,  # demoted r5: bool_filter + bm25_topk(+wand) cover filtered relevance
)
def bm25_topk_filtered_q(spark, sf_dir):
    """X3+X4: ES bool query — BM25 relevance under a NON-SCORING term
    filter (mira/elasticsearch.py:104-124 composes exactly this). Filter
    context restricts candidates but never changes stats/idf (ES
    semantics); implemented as a semi-join on the filter term's postings."""
    from .bm25 import bm25_topk_filtered

    docs = _T(spark, sf_dir, "documents")
    p = postings_long(docs)
    dl = doc_lengths(docs)
    stats = corpus_stats(dl)
    return bm25_topk_filtered(
        spark, p, dl, term_df(p), stats, BM25_QUERY, "w0005", k=BM25_K
    )


def _ensure_index(spark, sf_dir):
    """Build (once per sf_dir) the sharded compressed index + merge."""
    from .build import build_index
    from .merge import merge_index

    def build():
        d = _fixture_dir("wand_idx_")
        build_index(spark, _T(spark, sf_dir, "documents"), d, n_shards=8)
        merge_index(spark, d, n_salts=4, n_buckets=8)
        return d

    return _memo("wand", sf_dir, build)


@q("bm25_topk_wand", bm25_topk_oracle_sql(BM25_QUERY, k=BM25_K))
def bm25_topk_wand(spark, sf_dir):
    """X4 via the COMPRESSED index + block-max WAND (SURVEY §7 step 7).

    Oracle is the same SQL as bm25_topk — proving the compressed path is
    rank-identical to uncompressed scoring.
    """
    from .wand import topk

    return topk(spark, _ensure_index(spark, sf_dir), BM25_QUERY, k=BM25_K)


# ---------------------------------------------------------------------------
# Training-data pipeline: text analysis
# ---------------------------------------------------------------------------


@q(
    "token_count",
    f"SELECT doc_id, count(*) AS n_tokens FROM ({_TOKENS_CTE}) GROUP BY doc_id",
    extra=True,  # demoted r5: quality_score/doc-length stats keep token analysis gated
)
def token_count(spark, sf_dir):
    """Token counting (whitespace+punct grammar, analyze.py)."""
    docs = _T(spark, sf_dir, "documents")
    return doc_lengths(docs).select("doc_id", F.col("dl").cast("long").alias("n_tokens"))


@q(
    "quality_score",
    f"""WITH tok AS (SELECT doc_id, count(*) AS n_tokens FROM ({_TOKENS_CTE}) GROUP BY doc_id),
        stop AS (SELECT doc_id, count(*) AS n_stop FROM ({_TOKENS_CTE})
                 WHERE term IN ({", ".join(f"'{w}'" for w in STOPWORDS_EN)}) GROUP BY doc_id)
     SELECT d.doc_id,
            length(d.text) AS n_chars,
            coalesce(tok.n_tokens, 0) AS n_tokens,
            round(length(regexp_replace(d.text, '[^.,;:!?]', '', 'g'))
                  / greatest(length(d.text), 1), 4) AS punct_ratio,
            round(coalesce(stop.n_stop, 0) / greatest(coalesce(tok.n_tokens, 0), 1), 4)
                  AS stopword_ratio,
            round(length(d.text) / greatest(coalesce(tok.n_tokens, 0), 1), 4)
                  AS chars_per_token
     FROM documents d LEFT JOIN tok USING (doc_id) LEFT JOIN stop USING (doc_id)""",
)
def quality_score(spark, sf_dir):
    """Quality features: length / punctuation / stopword ratios."""
    return quality_features(_T(spark, sf_dir, "documents"))


def _lang_hits_sql(lang: str) -> str:
    markers = ", ".join(f"'{w}'" for w in LANG_MARKERS[lang])
    return (
        f"CAST(coalesce(sum(CASE WHEN term IN ({markers}) THEN 1 ELSE 0 END), 0) AS BIGINT)"
        f" AS hits_{lang}"
    )


@q(
    "lang_id",
    f"""WITH hits AS (
         SELECT doc_id, {", ".join(_lang_hits_sql(lang) for lang in sorted(LANG_MARKERS))}
         FROM ({_TOKENS_CTE}) GROUP BY doc_id
       ), all_docs AS (
         SELECT d.doc_id,
                {", ".join(f"CAST(coalesce(h.hits_{lang}, 0) AS BIGINT) AS hits_{lang}" for lang in sorted(LANG_MARKERS))}
         FROM documents d LEFT JOIN hits h USING (doc_id)
       )
       SELECT doc_id, hits_de, hits_en, hits_es, hits_fr,
              CASE greatest(hits_de, hits_en, hits_es, hits_fr)
                   WHEN hits_de THEN 'de' WHEN hits_en THEN 'en'
                   WHEN hits_es THEN 'es' ELSE 'fr' END AS pred_lang
       FROM all_docs""",
)
def lang_id(spark, sf_dir):
    """Language-ID marker heuristic (argmax, alphabetical tiebreak).

    Hit counts cast to long on both sides: DuckDB's sum(CASE) is HUGEINT
    (hashes as float via pandas), Spark's F.size is int — long is the
    common hashable type (VERDICT r01 "What's wrong" #1).
    """
    scored = lang_scores(_T(spark, sf_dir, "documents"))
    hit_cols = [c for c in scored.columns if c.startswith("hits_")]
    return scored.select(
        "doc_id", *[F.col(c).cast("long").alias(c) for c in hit_cols], "pred_lang"
    )


@q(
    "fingerprint_docs",
    "SELECT doc_id, md5(lower(trim(text))) AS fp FROM documents",
)
def fingerprint_docs(spark, sf_dir):
    """Document fingerprinting (md5 — shared with the oracle)."""
    return fingerprint(_T(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Training-data pipeline: deduplication
# ---------------------------------------------------------------------------


@q(
    "dedup_exact_groups",
    """SELECT md5(lower(trim(text))) AS fp, min(doc_id) AS canonical_id,
              count(*) AS n_docs
       FROM documents GROUP BY 1 HAVING count(*) > 1""",
)
def dedup_exact_groups(spark, sf_dir):
    """Exact dedup via fingerprint groupBy (hash shuffle, map-side combine)."""
    from .dedup import exact_duplicates

    return exact_duplicates(_T(spark, sf_dir, "documents"))


@q(
    "ngram_jaccard_dups",
    f"""WITH base AS (
       SELECT doc_id,
              regexp_split_to_array(lower(text), '{SPLIT_RE_DUCKDB}') AS raw
       FROM documents
     ), toklist AS (
       SELECT doc_id, list_filter(raw, x -> x <> '') AS toks FROM base
     ), sh AS (
       SELECT DISTINCT doc_id, unnest(
                list_transform(generate_series(1, len(toks) - 2),
                               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
              ) AS shingle
       FROM toklist WHERE len(toks) >= 3
     ), sizes AS (
       SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id
     ), rare AS (
       SELECT shingle FROM sh GROUP BY shingle HAVING count(*) BETWEEN 2 AND 10
     ), cand AS (
       SELECT DISTINCT s1.doc_id AS a, s2.doc_id AS b
       FROM sh s1 JOIN rare USING (shingle) JOIN sh s2 USING (shingle)
       WHERE s1.doc_id < s2.doc_id
     ), inter AS (
       SELECT c.a, c.b, count(*) AS inter
       FROM cand c JOIN sh x ON x.doc_id = c.a JOIN sh y ON y.doc_id = c.b
                 AND x.shingle = y.shingle
       GROUP BY c.a, c.b
     )
     SELECT i.a, i.b,
            round(i.inter / (sa.n_sh + sb.n_sh - i.inter), 4) AS jaccard
     FROM inter i JOIN sizes sa ON sa.doc_id = i.a JOIN sizes sb ON sb.doc_id = i.b
     WHERE round(i.inter / (sa.n_sh + sb.n_sh - i.inter), 4) >= 0.8""",
)
def ngram_jaccard_dups(spark, sf_dir):
    """Near-dup pairs by word-3-gram Jaccard ≥ 0.8, rare-shingle blocking."""
    from .dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(_T(spark, sf_dir, "documents"), n=3, threshold=0.8)


# shared shingle CTE body (word 3-grams, analyzer grammar) — identical to
# the Spark shingles() pipeline in dedup.py
_SHINGLES_CTE = f"""base AS (
       SELECT doc_id,
              regexp_split_to_array(lower(text), '{SPLIT_RE_DUCKDB}') AS raw
       FROM documents
     ), toklist AS (
       SELECT doc_id, list_filter(raw, x -> x <> '') AS toks FROM base
     ), sh AS (
       SELECT DISTINCT doc_id, unnest(
                list_transform(generate_series(1, len(toks) - 2),
                               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
              ) AS shingle
       FROM toklist WHERE len(toks) >= 3
     )"""

# DuckDB twin of dedup.portable_hash60 (15 hex chars of md5 → BIGINT)
_PHASH60 = "CAST(concat('0x', substr(md5({col}), 1, 15)) AS BIGINT)"


def _minhash_oracle_sql(
    num_hashes: int = 32, bands: int = 8, seed: int = 42,
    threshold: float = 0.5, max_bucket: int = 64,
) -> str:
    """Exact DuckDB twin of dedup.minhash_lsh_pairs(portable=True)."""
    from .dedup import _MERSENNE, _minhash_params

    a, b = _minhash_params(num_hashes, seed)
    rpb = num_hashes // bands
    mins = ",\n              ".join(
        f"min((x * {int(a[i])} + {int(b[i])}) % {_MERSENNE}) AS h{i}"
        for i in range(num_hashes)
    )
    band_rows = "\n       UNION ALL ".join(
        f"SELECT {i} AS band, doc_id, concat_ws('_', "
        + ", ".join(f"h{j}" for j in range(i * rpb, (i + 1) * rpb))
        + ") AS bucket FROM sig"
        for i in range(bands)
    )
    agree = " + ".join(
        f"(CASE WHEN sa.h{i} = sb.h{i} THEN 1 ELSE 0 END)" for i in range(num_hashes)
    )
    return f"""WITH {_SHINGLES_CTE}, x AS (
       SELECT doc_id, {_PHASH60.format(col="shingle")} % {_MERSENNE} AS x FROM sh
     ), sig AS (
       SELECT doc_id, {mins}
       FROM x GROUP BY doc_id
     ), bk AS (
       {band_rows}
     ), meta AS (
       SELECT band, bucket, count(*) AS n_in_bucket, min(doc_id) AS min_doc
       FROM bk GROUP BY band, bucket
     ), bkm AS (
       SELECT bk.band, bk.bucket, bk.doc_id, m.n_in_bucket, m.min_doc
       FROM bk JOIN meta m USING (band, bucket)
     ), cand AS (
       SELECT DISTINCT a, b FROM (
         SELECT x.doc_id AS a, y.doc_id AS b
         FROM bkm x JOIN bkm y USING (band, bucket)
         WHERE x.n_in_bucket <= {max_bucket} AND x.doc_id < y.doc_id
         UNION ALL
         SELECT min_doc AS a, doc_id AS b
         FROM bkm WHERE n_in_bucket > {max_bucket} AND doc_id > min_doc
       )
     )
     SELECT c.a, c.b, round(({agree}) / {float(num_hashes)}, 4) AS est_jaccard
     FROM cand c JOIN sig sa ON sa.doc_id = c.a JOIN sig sb ON sb.doc_id = c.b
     WHERE round(({agree}) / {float(num_hashes)}, 4) >= {threshold}"""


@q("minhash_lsh_dups", None)  # oracle attached below (generated SQL)
def minhash_lsh_dups(spark, sf_dir):
    """MinHash+LSH candidate pairs with signature-estimated Jaccard.

    Portable (md5-based) hashing so the DuckDB oracle recomputes the
    identical signatures/buckets; xxhash64 remains the scale path
    (dedup.minhash_signatures). Degenerate buckets fall back to star
    pairing (bounded candidates — VERDICT r01 scale fix)."""
    from .dedup import minhash_lsh_pairs

    return minhash_lsh_pairs(
        _T(spark, sf_dir, "documents"), portable=True
    ).filter(F.col("est_jaccard") >= 0.5)


ORACLES["minhash_lsh_dups"] = _minhash_oracle_sql()


def _exact_jaccard_oracle_sql(threshold: float = 0.5) -> str:
    """Ground-truth all-pairs exact shingle Jaccard ≥ threshold (DuckDB).

    Oracle for the LSH+verify pipeline: at oracle scale the all-pairs
    shared-shingle join is feasible, and the pipeline's output equals it
    whenever LSH recall is 1.0 (measured exactly so on the fixtures —
    see dedup.lsh_verified_pairs)."""
    return f"""WITH {_SHINGLES_CTE}, sizes AS (
       SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id
     ), inter AS (
       SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS i
       FROM sh x JOIN sh y USING (shingle)
       WHERE x.doc_id < y.doc_id
       GROUP BY 1, 2
     )
     SELECT a, b, round(i / (sa.n_sh + sb.n_sh - i), 4) AS jaccard
     FROM inter
     JOIN sizes sa ON sa.doc_id = a
     JOIN sizes sb ON sb.doc_id = b
     WHERE round(i / (sa.n_sh + sb.n_sh - i), 4) >= {threshold}"""


@q("minhash_lsh_dups_fast", _exact_jaccard_oracle_sql(0.9))
def minhash_lsh_dups_fast(spark, sf_dir):
    """The PRODUCTION near-dup pipeline (100-TB path): xxhash64
    MinHash-LSH candidates + exact shingle-Jaccard verification
    (dedup.lsh_verified_pairs). Emits hash-family-independent exact
    Jaccard, so the DuckDB oracle is the ground-truth all-pairs join.
    Gated at threshold 0.9, the operating point where LSH candidate
    recall is effectively exact (per-pair miss probability (1−0.9⁴)⁸ ≈
    2.4e-4 at 32 hashes / 8 bands — at, say, J=0.6 the S-curve gives
    only ~50% recall, so a 0.5-gate against a ground-truth oracle would
    be comparing different semantics). Also requires no degenerate
    (>max_bucket) LSH bucket in the corpus: those fall back to
    canonical-star pairing (connected groups, deliberately not all
    pairs). Upgraded from the r3 rows-only check (VERDICT r03 #4)."""
    from .dedup import lsh_verified_pairs

    return lsh_verified_pairs(_T(spark, sf_dir, "documents"), threshold=0.9)


def _simhash_oracle_sql(n_bits: int = 60) -> str:
    """Exact DuckDB twin of dedup.simhash(portable=True)."""
    bit_sums = ",\n              ".join(
        f"sum(CASE WHEN (h >> {i}) & 1 = 1 THEN tf ELSE -tf END) AS b{i}"
        for i in range(n_bits)
    )
    packed = " | ".join(
        f"(CASE WHEN b{i} > 0 THEN (CAST(1 AS BIGINT) << {i}) ELSE CAST(0 AS BIGINT) END)"
        for i in range(n_bits)
    )
    return f"""WITH tf AS (
       SELECT doc_id, term, count(*) AS tf FROM ({_TOKENS_CTE}) GROUP BY doc_id, term
     ), h AS (
       SELECT doc_id, tf, {_PHASH60.format(col="term")} AS h FROM tf
     ), bits AS (
       SELECT doc_id, {bit_sums}
       FROM h GROUP BY doc_id
     )
     SELECT doc_id, {packed} AS simhash FROM bits"""


@q("simhash_fingerprints", None)  # oracle attached below (generated SQL)
def simhash_fingerprints(spark, sf_dir):
    """SimHash per document (portable 60-bit variant — oracle-reproducible;
    64-bit xxhash64 variant is the scale path, pytest-validated)."""
    from .dedup import simhash

    return simhash(_T(spark, sf_dir, "documents"), portable=True)


ORACLES["simhash_fingerprints"] = _simhash_oracle_sql()


# ---------------------------------------------------------------------------
# Training-data pipeline: similarity search over embeddings
# ---------------------------------------------------------------------------


def _query_vec(spark, sf_dir) -> list[float]:
    row = (
        _T(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") == 0)
        .select("embedding")
        .collect()[0]
    )
    return [float(x) for x in row["embedding"]]


@q(
    "ann_bruteforce",
    """SELECT vec_id,
              round(list_cosine_similarity(
                  embedding, (SELECT embedding FROM embeddings WHERE vec_id = 0)), 4)
                  AS cosine
       FROM embeddings
       ORDER BY cosine DESC, vec_id ASC LIMIT 20""",
)
def ann_bruteforce(spark, sf_dir):
    """Exact cosine top-20 vs vec_id=0 (zip_with/aggregate dot product)."""
    from .similarity import cosine_topk

    emb = _T(spark, sf_dir, "embeddings")
    return cosine_topk(emb, _query_vec(spark, sf_dir), k=20)


def _plane_sql_literal(plane) -> str:
    return "[" + ", ".join(repr(float(w)) for w in plane) + "]"


def _bucket_sql_expr(vec_expr: str, planes) -> str:
    """Packed sign-bit LSH bucket as a DuckDB expression (twin of
    similarity.lsh_bucket_col — same seeded hyperplanes as literals)."""
    return " + ".join(
        f"(CASE WHEN list_dot_product({vec_expr}, {_plane_sql_literal(p)}) > 0 "
        f"THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(planes)
    )


def _ann_lsh_oracle_sql(k: int = 20, n_planes: int = 8, seed: int = 42, dim: int = 64) -> str:
    """DuckDB twin of similarity.lsh_topk: same hyperplanes (fixed seed,
    serialized as literals), multi-probe = Hamming ≤ 1 on the bucket."""
    from .similarity import _hyperplanes

    planes = _hyperplanes(dim, n_planes, seed)
    return f"""WITH b AS (
       SELECT vec_id, embedding,
              {_bucket_sql_expr("embedding", planes)} AS bucket
       FROM embeddings
     ), q AS (
       SELECT embedding AS qe, bucket AS qbucket FROM b WHERE vec_id = 0
     )
     SELECT b.vec_id,
            round(list_cosine_similarity(b.embedding, (SELECT qe FROM q)), 4)
                AS cosine
     FROM b, q
     WHERE bit_count(xor(CAST(b.bucket AS BIGINT), CAST(q.qbucket AS BIGINT))) <= 1
     ORDER BY cosine DESC, b.vec_id ASC LIMIT {k}"""


@q("ann_lsh", None)  # oracle attached below (generated SQL)
def ann_lsh(spark, sf_dir):
    """LSH-bucketed approximate cosine top-20 (multi-probe Hamming ≤ 1)."""
    from .similarity import lsh_topk

    emb = _T(spark, sf_dir, "embeddings")
    return lsh_topk(emb, _query_vec(spark, sf_dir), k=20)


ORACLES["ann_lsh"] = _ann_lsh_oracle_sql()


@q("ann_lsh_indexed", None, extra=True)  # twin of ann_lsh (same SQL oracle)
def ann_lsh_indexed(spark, sf_dir):
    """ANN over the PRE-BUCKETED table (similarity.build_ann_index):
    bucket is a partition column computed at ingest, so each probe is a
    partition-pruned scan — the 100 TB path VERDICT r01 flagged as
    missing. Same planes/probes as ann_lsh → identical results."""
    from .similarity import build_ann_index, lsh_topk_indexed

    def build():
        d = _fixture_dir("ann_idx_")
        emb = _T(spark, sf_dir, "embeddings")
        dim = len(emb.select("embedding").first()["embedding"])
        build_ann_index(emb, d, dim=dim)
        return d

    d = _memo("ann", sf_dir, build)
    return lsh_topk_indexed(spark, d, _query_vec(spark, sf_dir), k=20)


EXTRA_ORACLES["ann_lsh_indexed"] = _ann_lsh_oracle_sql()


def _ivf_centroids(spark, sf_dir):
    """Train (once per sf_dir) the deterministic spherical-k-means coarse
    quantizer over the embeddings table."""
    from .similarity import train_ivf_centroids

    return _memo("ivf", sf_dir, lambda: train_ivf_centroids(
        _T(spark, sf_dir, "embeddings"), n_centroids=8, n_iters=3, seed=42
    ))


@q(
    "ann_ivf_exhaustive",
    """SELECT vec_id,
              round(list_cosine_similarity(
                  embedding, (SELECT embedding FROM embeddings WHERE vec_id = 0)), 4)
                  AS cosine
       FROM embeddings
       ORDER BY cosine DESC, vec_id ASC LIMIT 20""",
    extra=True,  # demoted r5: redundant twin, driver cap at 50 (judge r4 #1)
)
def ann_ivf_exhaustive(spark, sf_dir):
    """IVF coarse-quantizer path at nprobe = n_centroids: every inverted
    list is probed, so the result is EXACTLY the brute-force top-k (the
    SQL-checkable setting proving the IVF plumbing loses nothing). The
    production setting (nprobe ≪ n_centroids) is `ann_ivf`."""
    from .similarity import ivf_topk

    emb = _T(spark, sf_dir, "embeddings")
    cent = _ivf_centroids(spark, sf_dir)
    return ivf_topk(emb, _query_vec(spark, sf_dir), cent, k=20, nprobe=len(cent))


def _ivf_trained_oracle_sql(
    k: int = 20,
    n_lists: int = 8,
    n_iters: int = 3,
    seed: int = 42,
    dim: int = 64,
    nprobe: int = 2,
) -> str:
    """DuckDB twin of the TRAINED k-means IVF path (judge r4 #2): replays
    similarity.train_ivf_centroids end to end in SQL — md5 init, per-
    iteration unit/6-dp quantizer + 9-dp-rounded-dot cosine assignment +
    6-dp-rounded per-(list,pos) means with empty-list carry-over — then
    probe selection and pruned scoring with the final quantizer. Every
    arithmetic surface is rounded identically on both sides, so the twin
    is sf-independent (recomputes from the data, no baked centroids)."""
    unit = (
        "SELECT list_id, list_transform(c, x -> "
        "round(x / sqrt(list_dot_product(c, c)), 6)) AS c FROM c{i}"
    )
    assign = (
        "SELECT vec_id, v, list_id FROM (\n"
        "    SELECT e.vec_id, e.v, n.list_id,\n"
        "           row_number() OVER (PARTITION BY e.vec_id\n"
        "               ORDER BY round(list_dot_product(e.v, n.c), 9) DESC,"
        " n.list_id) AS rn\n"
        "    FROM e CROSS JOIN n{i} n\n"
        ") WHERE rn = 1"
    )
    parts = [
        f"""WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), c0 AS (
  SELECT row_number() OVER (
           ORDER BY md5(CAST(vec_id AS VARCHAR) || ':{seed}'), vec_id
         ) - 1 AS list_id, v AS c
  FROM e
  QUALIFY row_number() OVER (
           ORDER BY md5(CAST(vec_id AS VARCHAR) || ':{seed}'), vec_id
         ) <= {n_lists}
)"""
    ]
    for i in range(n_iters):
        parts.append(f"n{i} AS (\n  {unit.format(i=i)}\n)")
        parts.append(f"a{i + 1} AS (\n  {assign.format(i=i)}\n)")
        parts.append(
            f"""m{i + 1} AS (
  SELECT list_id, i, round(avg(v[i]), 6) AS m
  FROM a{i + 1} CROSS JOIN range(1, {dim + 1}) t(i)
  GROUP BY list_id, i
), c{i + 1} AS (
  SELECT c{i}.list_id, COALESCE(mm.c, c{i}.c) AS c
  FROM c{i} LEFT JOIN (
    SELECT list_id, list(m ORDER BY i) AS c FROM m{i + 1} GROUP BY list_id
  ) mm USING (list_id)
)"""
        )
    parts.append(f"nf AS (\n  {unit.format(i=n_iters)}\n)")
    parts.append(
        f"""q AS (
  SELECT v AS qv FROM e WHERE vec_id = 0
), probes AS (
  SELECT list_id FROM nf
  ORDER BY round(list_dot_product(c, (SELECT qv FROM q)), 9) DESC, list_id
  LIMIT {nprobe}
), asg AS (
  SELECT vec_id, v, list_id FROM (
    SELECT e.vec_id, e.v, n.list_id,
           row_number() OVER (PARTITION BY e.vec_id
               ORDER BY round(list_dot_product(e.v, n.c), 9) DESC, n.list_id) AS rn
    FROM e CROSS JOIN nf n
  ) WHERE rn = 1
)"""
    )
    return (
        ",\n".join(parts)
        + f"""
SELECT vec_id,
       round(list_cosine_similarity(v, (SELECT qv FROM q)), 4) AS cosine
FROM asg
WHERE list_id IN (SELECT list_id FROM probes)
ORDER BY cosine DESC, vec_id ASC LIMIT {k}"""
    )


def _ivf_fixed_oracle_sql(
    k: int = 20, n_lists: int = 8, nprobe: int = 2, seed: int = 11, dim: int = 64
) -> str:
    """DuckDB twin of similarity.ivf_topk_fixed: the seeded unit
    centroids serialize as literals; assignment = first-max of the
    per-list dots (list_position ↔ numpy argmax ties), probes = top-2
    lists by query-centroid dot. All arithmetic in DOUBLE with the same
    sequential fold order as the Spark side."""
    from .similarity import fixed_ivf_centroids

    cents = fixed_ivf_centroids(dim, n_lists, seed)
    lits = [_plane_sql_literal(c) for c in cents]
    dots = ", ".join(f"round(list_dot_product(v, {c}), 9)" for c in lits)
    qsims = "\n       UNION ALL ".join(
        f"SELECT {i} AS list_id, round(list_dot_product((SELECT qv FROM q), {c}), 9) AS sim"
        for i, c in enumerate(lits)
    )
    return f"""WITH e AS (
       SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
     ), asg AS (
       SELECT vec_id, v,
              list_position([{dots}], list_max([{dots}])) - 1 AS list_id
       FROM e
     ), q AS (
       SELECT v AS qv FROM e WHERE vec_id = 0
     ), qs AS (
       {qsims}
     ), probes AS (
       SELECT list_id FROM qs ORDER BY sim DESC, list_id ASC LIMIT {nprobe}
     )
     SELECT vec_id,
            round(list_cosine_similarity(v, (SELECT qv FROM q)), 4) AS cosine
     FROM asg
     WHERE list_id IN (SELECT list_id FROM probes)
     ORDER BY cosine DESC, vec_id ASC LIMIT {k}"""


@q("ann_ivf", None)  # oracle attached below (generated SQL)
def ann_ivf(spark, sf_dir):
    """IVF approximate cosine top-20 at nprobe=2 of 8 lists — the 100-TB
    serving shape: each probe scans ~nprobe/n_lists of the data (with the
    index materialized, similarity.build_ivf_index, a partition-pruned
    scan). Runs the TRAINED k-means quantizer — the production path
    (judge r4 #2: was the fixed seeded quantizer) — and the DuckDB
    oracle replays the ENTIRE pipeline from the raw data: k-means
    training (md5 init, 3 Lloyd passes, rounded means), assignment,
    probe selection and pruned scoring (_ivf_trained_oracle_sql). A
    green row is therefore also a training-determinism proof. The fixed
    data-independent quantizer stays available (ann_ivf_fixed, local
    gate) as the variance-free twin."""
    from .similarity import ivf_topk

    emb = _T(spark, sf_dir, "embeddings")
    cent = _ivf_centroids(spark, sf_dir)
    return ivf_topk(emb, _query_vec(spark, sf_dir), cent, k=20, nprobe=2)


ORACLES["ann_ivf"] = _ivf_trained_oracle_sql()


@q("ann_ivf_fixed", None, extra=True)  # retired r5: trained path took the row
def ann_ivf_fixed(spark, sf_dir):
    """The r4 gated variant: FIXED seeded data-independent quantizer
    (similarity.fixed_ivf_centroids) with serialized-literal oracle."""
    from .similarity import fixed_ivf_centroids, ivf_topk_fixed

    emb = _T(spark, sf_dir, "embeddings")
    dim = len(_query_vec(spark, sf_dir))
    cent = fixed_ivf_centroids(dim, n_lists=8, seed=11)
    return ivf_topk_fixed(emb, _query_vec(spark, sf_dir), cent, k=20, nprobe=2)


EXTRA_ORACLES["ann_ivf_fixed"] = _ivf_fixed_oracle_sql()


_ND_PLANES = 4  # 16 sub-blocks per label
_ND_SEED = 7


def _near_dups_oracle_sql(threshold: float = 0.2, dim: int = 64) -> str:
    """DuckDB twin of the (label, LSH-bucket) sub-blocked near-dup pairs."""
    from .similarity import _hyperplanes

    planes = _hyperplanes(dim, _ND_PLANES, _ND_SEED)
    probes = ", ".join(
        ["CAST(bucket AS BIGINT)"]
        + [f"xor(CAST(bucket AS BIGINT), {1 << i})" for i in range(_ND_PLANES)]
    )
    return f"""WITH b AS (
       SELECT vec_id, label, embedding,
              {_bucket_sql_expr("embedding", planes)} AS bucket
       FROM embeddings
     ), p AS (
       SELECT vec_id, label, embedding,
              unnest([{probes}]) AS probe
       FROM b
     )
     SELECT p.vec_id AS a, b.vec_id AS b,
            round(list_cosine_similarity(p.embedding, b.embedding), 4) AS cosine
     FROM p JOIN b
       ON p.label = b.label AND p.probe = CAST(b.bucket AS BIGINT)
      AND p.vec_id < b.vec_id
     WHERE round(list_cosine_similarity(p.embedding, b.embedding), 4) >= {threshold}"""


@q("embedding_near_dups", None)  # oracle attached below (generated SQL)
def embedding_near_dups(spark, sf_dir):
    """Embedding-cosine near-dup pairs, (label × LSH-bucket) sub-blocked.

    VERDICT r01 scale fix: blocking on label alone is O((N/L)²) per
    label — quadratic at scale with a near-constant label set. Blocks are
    sub-split by a 4-plane hyperplane-LSH bucket (similarity.lsh_bucket_col,
    fixed seed), with Hamming-1 multi-probe for recall: each row emits its
    bucket + 4 neighbor probes; pairs form only where a's probe meets b's
    bucket within the same label. Candidate pairs are (label, bucket)-
    bounded — 5·Σ|bucket|² instead of Σ|label|².
    """
    from .similarity import _dot, _hyperplanes, _norm, lsh_bucket_col

    emb = _T(spark, sf_dir, "embeddings")
    planes = _hyperplanes(64, _ND_PLANES, _ND_SEED)
    bucketed = emb.withColumn(
        "bucket", lsh_bucket_col(F.col("embedding"), planes)
    )
    probe = F.explode(
        F.array(
            F.col("bucket"),
            *[F.col("bucket").bitwiseXOR(F.lit(1 << i)) for i in range(_ND_PLANES)],
        )
    ).alias("probe")
    vec = lambda c: F.transform(c, lambda x: x.cast("double"))  # noqa: E731
    a = bucketed.select(
        "label", F.col("vec_id").alias("a"), F.col("embedding").alias("ea"), probe
    )
    b = bucketed.select(
        "label",
        F.col("vec_id").alias("b"),
        F.col("embedding").alias("eb"),
        F.col("bucket").alias("bucket_b"),
    )
    sim = _dot(vec(F.col("ea")), vec(F.col("eb"))) / (
        _norm(vec(F.col("ea"))) * _norm(vec(F.col("eb")))
    )
    return (
        a.join(
            b,
            (a["label"] == b["label"])
            & (F.col("probe") == F.col("bucket_b"))
            & (F.col("a") < F.col("b")),
        )
        .select("a", "b", F.round(sim, 4).alias("cosine"))
        .filter(F.col("cosine") >= 0.2)
    )


ORACLES["embedding_near_dups"] = _near_dups_oracle_sql()


# ---------------------------------------------------------------------------
# §2.9/2.10 second r5 wave: term suggester, more_like_this, composite /
# adjacency_matrix / missing aggs (dsl.py)
# ---------------------------------------------------------------------------

from .analyze import oracle_tokens_sql as _tok_sql  # noqa: E402


@q(
    "dsl_suggest",
    f"""
WITH tokens AS ({_tok_sql()}),
tdf AS (SELECT term, count(DISTINCT doc_id) AS freq FROM tokens GROUP BY term),
inp(token) AS (VALUES ('dataa'), ('sparkk'), ('tabel')),
cand AS (
    SELECT i.token, t.term AS option,
           levenshtein(t.term, i.token) AS distance, t.freq
    FROM tdf t JOIN inp i
      ON substr(t.term, 1, 1) = substr(i.token, 1, 1)
     AND t.term <> i.token
     AND levenshtein(t.term, i.token) <= 2
    WHERE i.token NOT IN (SELECT term FROM tdf)
),
ranked AS (
    SELECT *, row_number() OVER (
        PARTITION BY token ORDER BY distance, freq DESC, option) AS rn
    FROM cand
)
SELECT 'fix' AS suggester, token, option, distance, freq
FROM ranked WHERE rn <= 3
ORDER BY suggester, token, distance, freq DESC, option
""",
)
def dsl_suggest(spark, sf_dir):
    """ES term suggester (dsl.suggest): spelling corrections from the
    corpus's own term dictionary — Levenshtein ≤ max_edits, ES sort
    (distance asc, doc-freq desc, term asc), suggest_mode=missing. The
    prefix_length=1 exact-prefix requirement is the scale lever: the
    vocabulary scan prunes to the token's prefix bucket (Lucene's
    prefix-locked FST walk, re-expressed as a pushdown predicate)."""
    from . import dsl

    body = {
        "suggest": {
            "fix": {
                "text": "sparkk dataa tabel",
                "term": {"field": "text", "size": 3},
            }
        }
    }
    return dsl.suggest(spark, _T(spark, sf_dir, "documents"), body)


@q(
    "dsl_more_like_this",
    f"""
WITH tokens AS ({_tok_sql()}),
postings AS (
    SELECT term, doc_id, count(*)::DOUBLE AS tf FROM tokens GROUP BY 1, 2
),
doc_lens AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM tokens GROUP BY doc_id),
stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM doc_lens),
tdf AS (SELECT term, count(*)::DOUBLE AS df FROM postings GROUP BY term),
seed AS (
    SELECT p.term
    FROM postings p JOIN tdf f USING (term) CROSS JOIN stats s
    WHERE p.doc_id = 7 AND p.tf >= 1 AND f.df >= 2
    ORDER BY p.tf * ln(1 + (s.n - f.df + 0.5) / (f.df + 0.5)) DESC, p.term ASC
    LIMIT 25
),
scored AS (
    SELECT p.doc_id,
           sum(ln(1 + (s.n - f.df + 0.5) / (f.df + 0.5))
               * p.tf * 2.2
               / (p.tf + 1.2 * (1 - 0.75 + 0.75 * d.dl / s.avgdl))) AS score
    FROM postings p
    JOIN seed q USING (term)
    JOIN tdf f USING (term)
    JOIN doc_lens d USING (doc_id)
    CROSS JOIN stats s
    WHERE p.doc_id <> 7
    GROUP BY p.doc_id
)
SELECT doc_id, round(score, 4) AS score
FROM scored ORDER BY round(score, 4) DESC, doc_id ASC LIMIT 10
""",
)
def dsl_more_like_this(spark, sf_dir):
    """ES ``more_like_this`` (dsl.more_like_this): Lucene's MLT pipeline
    as ONE Catalyst plan — seed doc's terms ranked by tf·idf (BM25 idf),
    top max_query_terms selected, then a standard BM25 sum over the
    selected-term relation (a ≤25-row broadcast join; zero driver-side
    term materialization). The oracle replays BOTH stages in SQL."""
    from . import dsl

    body = {
        "query": {
            "more_like_this": {
                "like": {"doc_id": 7},
                "min_term_freq": 1,
                "min_doc_freq": 2,
                "max_query_terms": 25,
            }
        },
        "size": 10,
    }
    return dsl.more_like_this(spark, _T(spark, sf_dir, "documents"), body)


@q(
    "dsl_composite",
    """
SELECT * FROM (
    SELECT event_type AS etype,
           floor(value / 50.0) * 50.0 AS vbin,
           count(*) AS doc_count
    FROM events GROUP BY 1, 2
)
WHERE (etype > 'click') OR (etype = 'click' AND vbin > 150.0)
ORDER BY etype ASC, vbin ASC LIMIT 8
""",
)
def dsl_composite(spark, sf_dir):
    """ES ``composite`` agg (dsl.py composite branch): a flat
    multi-source bucket stream paginated by after-key — the scale path
    for high-cardinality bucket sets (terms aggs hold global top-n
    state; composite pages are one groupBy + a pushdown-able keyset
    predicate, the same shape as search_after)."""
    from . import dsl

    body = {
        "size": 0,
        "aggs": {
            "comp": {
                "composite": {
                    "size": 8,
                    "sources": [
                        {"etype": {"terms": {"field": "event_type"}}},
                        {"vbin": {"histogram": {"field": "value", "interval": 50.0}}},
                    ],
                    "after": {"etype": "click", "vbin": 150.0},
                }
            }
        },
    }
    return dsl.search(spark, _T(spark, sf_dir, "events"), body)


@q(
    "dsl_adjacency_matrix",
    """
WITH c AS (
    SELECT count(*) FILTER (WHERE lang = 'en') AS c_en,
           count(*) FILTER (WHERE n_chars >= 300) AS c_long,
           count(*) FILTER (WHERE lang = 'zh') AS c_zh,
           count(*) FILTER (WHERE lang = 'en' AND n_chars >= 300) AS c_en_long,
           count(*) FILTER (WHERE lang = 'en' AND lang = 'zh') AS c_en_zh,
           count(*) FILTER (WHERE n_chars >= 300 AND lang = 'zh') AS c_long_zh
    FROM documents
)
SELECT * FROM (
    SELECT 'en' AS key, c_en AS doc_count FROM c
    UNION ALL SELECT 'long', c_long FROM c
    UNION ALL SELECT 'zh', c_zh FROM c
    UNION ALL SELECT 'en&long', c_en_long FROM c
    UNION ALL SELECT 'en&zh', c_en_zh FROM c
    UNION ALL SELECT 'long&zh', c_long_zh FROM c
) WHERE doc_count > 0
""",
)
def dsl_adjacency_matrix(spark, sf_dir):
    """ES ``adjacency_matrix`` agg (dsl.py): doc counts for each named
    filter and each pairwise intersection. The key set is static at
    query-build time, so it compiles to ONE conditional-aggregation pass
    (no explode, a single reduce) + an unpivot of the 1-row result;
    empty buckets omitted like ES."""
    from . import dsl

    body = {
        "size": 0,
        "aggs": {
            "adj": {
                "adjacency_matrix": {
                    "filters": {
                        "en": {"term": {"lang": "en"}},
                        "long": {"range": {"n_chars": {"gte": 300}}},
                        "zh": {"term": {"lang": "zh"}},
                    }
                }
            }
        },
    }
    return dsl.search(spark, _T(spark, sf_dir, "documents"), body)


@q(
    "dsl_missing_agg",
    "SELECT count(*) FILTER (WHERE n_chars < 150) AS doc_count FROM documents",
    extra=True,
)
def dsl_missing_agg(spark, sf_dir):
    """ES ``missing`` agg (dsl.py): bucket of docs lacking a field value.
    The null-able column is derived in-plan (short docs get NULL) so the
    bucket is non-trivial on this data."""
    from . import dsl

    docs = _T(spark, sf_dir, "documents").withColumn(
        "maybe",
        F.when(F.col("n_chars") < 150, F.lit(None)).otherwise(F.col("lang")),
    )
    body = {"size": 0, "aggs": {"m": {"missing": {"field": "maybe"}}}}
    return dsl.search(spark, docs, body)


@q(
    "dsl_extended_stats",
    "SELECT count(value) AS count, round(min(value), 4) AS min, "
    "round(max(value), 4) AS max, round(avg(value), 4) AS avg, "
    "round(sum(value), 4) AS sum, "
    "round(sum(value * value), 4) AS sum_of_squares, "
    "round(var_pop(value), 4) AS variance, "
    "round(stddev_pop(value), 4) AS std_deviation FROM events",
)
def dsl_extended_stats(spark, sf_dir):
    """ES ``extended_stats`` agg (dsl.py leaf): stats + sum_of_squares +
    population variance/std (ES reports population moments), one pass."""
    from . import dsl

    body = {"size": 0, "aggs": {"es": {"extended_stats": {"field": "value"}}}}
    out = dsl.search(spark, _T(spark, sf_dir, "events"), body)
    return out.select(
        "count", *[F.round(c, 4).alias(c) for c in out.columns if c != "count"]
    )


@q(
    "dsl_weighted_avg",
    "SELECT round(sum(value * user_id) / sum(user_id), 4) AS value FROM events",
    extra=True,
)
def dsl_weighted_avg(spark, sf_dir):
    """ES ``weighted_avg`` agg (dsl.py leaf): Σ(v·w)/Σw in one pass."""
    from . import dsl

    body = {
        "size": 0,
        "aggs": {
            "w": {
                "weighted_avg": {
                    "value": {"field": "value"},
                    "weight": {"field": "user_id"},
                }
            }
        },
    }
    out = dsl.search(spark, _T(spark, sf_dir, "events"), body)
    return out.select(F.round("value", 4).alias("value"))


@q(
    "dsl_percentile_ranks",
    "SELECT round(count_if(value <= 50) * 100.0 / count(value), 4) AS rank_50, "
    "round(count_if(value <= 200) * 100.0 / count(value), 4) AS rank_200 "
    "FROM events",
    extra=True,
)
def dsl_percentile_ranks(spark, sf_dir):
    """ES ``percentile_ranks`` agg (dsl.py leaf): % of docs with field ≤
    each given value — exact count ratio (ES interpolates a t-digest;
    exact here, same oracle-checkable policy as percentiles)."""
    from . import dsl

    body = {
        "size": 0,
        "aggs": {
            "pr": {"percentile_ranks": {"field": "value", "values": [50, 200]}}
        },
    }
    out = dsl.search(spark, _T(spark, sf_dir, "events"), body)
    return out.select(*[F.round(c, 4).alias(c) for c in out.columns])


# ---------------------------------------------------------------------------
# Driver-gate rotation (r5): the driver caps at 50 rows, so redundant twins
# retire to the local-gate EXTRA registry — each keeps its DuckDB oracle in
# tests/test_queries_oracle.py, and every §2 operator they covered has a
# green CORRECTNESS_r04 row. The freed rows gate this round's new surface
# (compound scoring, suggester, MLT, composite/adjacency aggs, sqs).
# ---------------------------------------------------------------------------
_RETIRED_R5 = [
    "scan_project",            # S1/P1 twin: filter_numeric keeps scans gated
    "dedup_rows",              # P8 twin of dedup_exact_groups
    "sort_limit",              # T1 twin: topk_per_group keeps sort+limit gated
    "distinct_count",          # A5 twin of groupby_count
    "term_filter",             # X2 scan-served twin of term_count_indexed
    "minhash_lsh_dups_fast",   # shared-relation twin of minhash_lsh_dups
    "ann_bruteforce",          # baseline twin of ann_lsh / ann_ivf
    "dsl_bool_term_range_count",  # twin of bool_filter (+ filtered_count)
    "stats_agg",               # strict subset of dsl_extended_stats
    "semi_join_filter",        # J3: two other join rows stay gated
    "nested_collect",          # A2/F15: etl tests + dsl_top_hits cover shape
]
for _n in _RETIRED_R5:
    EXTRA_QUERIES[_n] = QUERIES.pop(_n)
    if _n in ORACLES:
        EXTRA_ORACLES[_n] = ORACLES.pop(_n)


# ---------------------------------------------------------------------------
# Round-5 fourth wave: nested docs, geo, runtime fields, percolator
# (dsl.py nested/geo/runtime_mappings; percolate.py)
# ---------------------------------------------------------------------------

# One synthetic geo derivation shared by the Spark queries and their SQL
# twins: a deterministic lat/lon per customer, pure integer-mod + double
# division so both engines produce bit-identical coordinates.
_GEO_LAT_SQL = "(c_custkey * 7919 % 16000) / 100.0 - 80.0"
_GEO_LON_SQL = "(c_custkey * 104729 % 36000) / 100.0 - 180.0"


def _geo_customers(spark, sf_dir):
    c = _T(spark, sf_dir, "customer")
    lat = (F.col("c_custkey") * 7919 % 16000) / 100.0 - 80.0
    lon = (F.col("c_custkey") * 104729 % 36000) / 100.0 - 180.0
    return c.select(
        "c_custkey", F.struct(lat.alias("lat"), lon.alias("lon")).alias("loc")
    )


def _nested_orders(spark, sf_dir):
    """Orders as parent docs with their lineitems as NESTED objects —
    the array-of-struct shape ES nested mappings model. collect_list
    order is nondeterministic; every consumer below is order-insensitive
    (exists / aggregates), which is exactly why nested results stay
    deterministic at any parallelism."""
    li = _T(spark, sf_dir, "lineitem")
    return li.groupBy(F.col("l_orderkey").alias("doc_id")).agg(
        F.collect_list(
            F.struct(
                F.col("l_quantity").alias("qty"),
                F.col("l_discount").alias("disc"),
                F.col("l_returnflag").alias("flag"),
            )
        ).alias("items")
    )


@q(
    "dsl_nested",
    "SELECT l_orderkey AS doc_id FROM lineitem "
    "WHERE l_quantity >= 48 AND l_discount >= 0.07 "
    "GROUP BY 1 ORDER BY 1 LIMIT 50000",
)
def dsl_nested(spark, sf_dir):
    """ES ``nested`` query (dsl.py filter_expr): BOTH conditions must
    hold on the SAME nested lineitem — the semantics a flattened array
    model gets wrong. Compiled to the exists() HOF: no explode, no
    shuffle, the array never leaves its row."""
    from . import dsl

    body = {
        "query": {"nested": {"path": "items", "query": {"bool": {"filter": [
            {"range": {"items.qty": {"gte": 48}}},
            {"range": {"items.disc": {"gte": 0.07}}},
        ]}}}},
        "sort": [{"doc_id": "asc"}],
        "size": 50000,
        "_source": ["doc_id"],
    }
    return dsl.search(spark, _nested_orders(spark, sf_dir), body)


@q(
    "dsl_nested_agg",
    "SELECT l_returnflag AS flag, round(sum(l_quantity), 4) AS qty_sum, "
    "count(DISTINCT l_orderkey) AS parents, count(*) AS doc_count "
    "FROM lineitem GROUP BY 1",
)
def dsl_nested_agg(spark, sf_dir):
    """ES ``nested`` agg ▸ terms ▸ sum + ``reverse_nested`` (dsl.py
    _aggs): the ONLY place nested arrays unroll is the agg explode; the
    parent id rides along so reverse_nested is a count_distinct, not a
    join back to the parent table."""
    from . import dsl

    body = {"size": 0, "aggs": {"per_item": {"nested": {"path": "items"}, "aggs": {
        "by_flag": {"terms": {"field": "items.flag", "size": 10}, "aggs": {
            "qty_sum": {"sum": {"field": "items.qty"}},
            "parents": {"reverse_nested": {}},
        }}}}}}
    out = dsl.search(spark, _nested_orders(spark, sf_dir), body)
    return out.select(
        F.col("items__flag").alias("flag"),
        F.round("qty_sum_value", 4).alias("qty_sum"),
        F.col("parents_doc_count").alias("parents"),
        "doc_count",
    )


@q(
    "dsl_geo_distance",
    f"""WITH pts AS (
         SELECT {_GEO_LAT_SQL} AS lat, {_GEO_LON_SQL} AS lon FROM customer
       ), d AS (
         SELECT 2.0 * 6371008.7714 * asin(sqrt(
           pow(sin(radians(lat - 40.71) / 2.0), 2) +
           cos(radians(40.71)) * cos(radians(lat)) *
           pow(sin(radians(lon - (-74.0)) / 2.0), 2))) / 1000.0 AS km
         FROM pts)
       SELECT CASE WHEN km < 2500 THEN '*-2500'
                   WHEN km < 8000 THEN '2500-8000'
                   WHEN km < 14000 THEN '8000-14000'
                   ELSE '14000-*' END AS ring,
              count(*) AS doc_count
       FROM d GROUP BY 1""",
)
def dsl_geo_distance(spark, sf_dir):
    """ES ``geo_distance`` ring agg (dsl.py _aggs): haversine with the
    ES mean earth radius, evaluated as pure Catalyst trig (no UDF), then
    the independent-range exploded-tag bucket shape. The oracle's CASE is
    equivalent because these rings are non-overlapping."""
    from . import dsl

    body = {"size": 0, "aggs": {"rings": {"geo_distance": {
        "field": "loc", "origin": {"lat": 40.71, "lon": -74.0}, "unit": "km",
        "ranges": [
            {"to": 2500}, {"from": 2500, "to": 8000},
            {"from": 8000, "to": 14000}, {"from": 14000},
        ],
    }}}}
    out = dsl.search(spark, _geo_customers(spark, sf_dir), body)
    return out.select(F.col("rings_key").alias("ring"), "doc_count")


@q("dsl_geotile_grid", None)  # oracle assembled below (needs geotile_sql)
def dsl_geotile_grid(spark, sf_dir):
    """ES ``geotile_grid`` agg (dsl.py geotile_key): Web-Mercator z/x/y
    tile buckets — pure floor math in whole-stage codegen, one groupBy.
    The oracle re-emits the identical formula via dsl.geotile_sql."""
    from . import dsl

    body = {"size": 0, "aggs": {
        "tiles": {"geotile_grid": {"field": "loc", "precision": 5}}}}
    out = dsl.search(spark, _geo_customers(spark, sf_dir), body)
    return out.select(F.col("tiles_key").alias("tile"), "doc_count")


def _geotile_oracle_sql() -> str:
    from . import dsl

    return (
        "WITH pts AS (SELECT "
        f"{_GEO_LAT_SQL} AS lat, {_GEO_LON_SQL} AS lon FROM customer) "
        f"SELECT {dsl.geotile_sql('lat', 'lon', 5)} AS tile, "
        "count(*) AS doc_count FROM pts GROUP BY 1"
    )


ORACLES["dsl_geotile_grid"] = _geotile_oracle_sql()


@q("dsl_geohash_grid", None, extra=True)  # oracle assembled below
def dsl_geohash_grid(spark, sf_dir):
    """ES ``geohash_grid`` agg (dsl.geohash_key): classic geohash cells
    at precision 3 — scaled-integer Morton interleave + base32 as ONE
    unrolled arithmetic expression (no UDF; verified against the
    canonical test vectors u4pruyd/dr5rs/s0000). The oracle re-emits the
    identical bit plan via dsl.geohash_key_sql."""
    from . import dsl

    body = {"size": 0, "aggs": {
        "cells": {"geohash_grid": {"field": "loc", "precision": 3}}}}
    out = dsl.search(spark, _geo_customers(spark, sf_dir), body)
    return out.select(F.col("cells_key").alias("cell"), "doc_count")


def _geohash_oracle_sql() -> str:
    from . import dsl

    return (
        "WITH pts AS (SELECT "
        f"{_GEO_LAT_SQL} AS lat, {_GEO_LON_SQL} AS lon FROM customer) "
        f"SELECT {dsl.geohash_key_sql('lat', 'lon', 3)} AS cell, "
        "count(*) AS doc_count FROM pts GROUP BY 1"
    )


EXTRA_ORACLES["dsl_geohash_grid"] = _geohash_oracle_sql()


# The percolated candidate document (fixed) and the stored-query
# derivation (one row per part) — mirrored exactly in the SQL twin.
_PERC_DOC = {
    "brand": "Brand#32", "size": 17,
    "type_text": "STANDARD POLISHED TIN", "container": "SM CASE",
}
_PERC_QUERIES_SQL = """
  SELECT CAST(p_partkey AS BIGINT) AS query_id,
         CASE p_partkey % 5 WHEN 0 THEN 'term' WHEN 1 THEN 'range'
              WHEN 2 THEN 'match' WHEN 3 THEN 'match_phrase'
              ELSE 'terms' END AS kind,
         CASE p_partkey % 5 WHEN 0 THEN 'brand' WHEN 1 THEN 'size'
              ELSE 'type_text' END AS field,
         CASE WHEN p_partkey % 5 = 0 THEN p_brand
              WHEN p_partkey % 5 IN (2, 3) THEN p_type END AS value,
         CASE WHEN p_partkey % 5 = 4
              THEN [p_type, 'PROMO BURNISHED COPPER'] END AS "values",
         CASE WHEN p_partkey % 5 = 1
              THEN CAST(p_size AS DOUBLE) - 2 END AS gte,
         CASE WHEN p_partkey % 5 = 1
              THEN CAST(p_size AS DOUBLE) + 2 END AS lte,
         CASE WHEN p_partkey % 5 = 2 AND p_partkey % 2 = 0
              THEN 'and' END AS operator
  FROM part
"""


def _perc_queries(spark, sf_dir):
    part = _T(spark, sf_dir, "part")
    k = F.col("p_partkey") % 5
    kind = F.element_at(
        F.array(F.lit("term"), F.lit("range"), F.lit("match"),
                F.lit("match_phrase"), F.lit("terms")),
        (k + 1).cast("int"),
    )
    field = (
        F.when(k == 0, F.lit("brand"))
        .when(k == 1, F.lit("size"))
        .otherwise(F.lit("type_text"))
    )
    value = (
        F.when(k == 0, F.col("p_brand"))
        .when((k == 2) | (k == 3), F.col("p_type"))
    )
    values = F.when(
        k == 4, F.array(F.col("p_type"), F.lit("PROMO BURNISHED COPPER"))
    )
    gte = F.when(k == 1, F.col("p_size").cast("double") - 2)
    lte = F.when(k == 1, F.col("p_size").cast("double") + 2)
    op = F.when((k == 2) & (F.col("p_partkey") % 2 == 0), F.lit("and"))
    return part.select(
        F.col("p_partkey").cast("long").alias("query_id"),
        kind.alias("kind"), field.alias("field"), value.alias("value"),
        values.alias("values"), gte.alias("gte"), lte.alias("lte"),
        op.alias("operator"),
    )


@q("dsl_percolate", None)  # oracle assembled below (percolate_oracle_sql)
def dsl_percolate(spark, sf_dir):
    """ES percolator (percolate.py): every part row becomes a stored
    query (term / range / match / match_phrase / terms, cycling by
    partkey); the fixed candidate doc percolates against ALL of them in
    ONE whole-stage-codegen filter pass — queries are the scanned data,
    the document is O(doc) literals in the plan."""
    from . import percolate as P

    return P.percolate(_perc_queries(spark, sf_dir), _PERC_DOC)


def _percolate_oracle_sql() -> str:
    from . import percolate as P

    return (
        f"WITH pq AS ({_PERC_QUERIES_SQL}) "
        + P.percolate_oracle_sql(_PERC_DOC, "pq")
    )


ORACLES["dsl_percolate"] = _percolate_oracle_sql()


@q(
    "dsl_runtime_fields",
    """WITH r AS (
         SELECT l_extendedprice * (1 - l_discount) AS net FROM lineitem
       )
       SELECT count(net) AS cnt, round(min(net), 4) AS min_v,
              round(max(net), 4) AS max_v, round(avg(net), 4) AS avg_v,
              round(sum(net), 4) AS sum_v
       FROM r WHERE net >= 90000""",
)
def dsl_runtime_fields(spark, sf_dir):
    """ES ``runtime_mappings`` (dsl.py _apply_runtime_mappings): a
    script-derived field visible to the query AND the aggs of the same
    search — compiled by the no-eval painless parser into one Catalyst
    expression (never a Python UDF), so predicate + stats stay in
    whole-stage codegen."""
    from . import dsl

    body = {
        "runtime_mappings": {"net": {"type": "double", "script": {
            "source": "emit(doc['l_extendedprice'].value * "
                      "(1 - doc['l_discount'].value))"}}},
        "size": 0,
        "query": {"range": {"net": {"gte": 90000.0}}},
        "aggs": {"s": {"stats": {"field": "net"}}},
    }
    out = dsl.search(spark, _T(spark, sf_dir, "lineitem"), body)
    return out.select(
        F.col("count").alias("cnt"),
        F.round("min", 4).alias("min_v"),
        F.round("max", 4).alias("max_v"),
        F.round("avg", 4).alias("avg_v"),
        F.round("sum", 4).alias("sum_v"),
    )


# Rotation for the fourth wave: 6 new driver rows in, 6 r04-green twins
# out to the local-gate EXTRA registry (each keeps its oracle there, and
# each §2 operator they covered has a green CORRECTNESS_r04 driver row).
_RETIRED_R5B = [
    "bm25_topk",            # exact-scorer twin: bm25_topk_wand keeps T3/X4 gated
    "ann_lsh",              # ann_ivf keeps the indexed-ANN path gated
    "simhash_fingerprints", # minhash_lsh_dups keeps near-dup dedup gated
    "ngram_jaccard_dups",   # same family; embedding_near_dups stays gated
    "pivot_wide",           # F13 green r04; unpivot_melt twin in local gate
    "filter_numeric",       # P3/P6 twin: bool_filter keeps range filters gated
]
for _n in _RETIRED_R5B:
    EXTRA_QUERIES[_n] = QUERIES.pop(_n)
    if _n in ORACLES:
        EXTRA_ORACLES[_n] = ORACLES.pop(_n)


@q(
    "dsl_termvectors",
    r"""WITH lists AS (
         SELECT doc_id,
                list_filter(regexp_split_to_array(lower(text),
                            '[^\pL\pN]+'), x -> x <> '') AS l
         FROM documents
       ), toks AS (
         SELECT doc_id, unnest(l) AS term,
                generate_subscripts(l, 1) - 1 AS pos
         FROM lists WHERE doc_id IN (0, 1, 2)
       ), fwd AS (
         SELECT doc_id, term, count(*) AS term_freq,
                list_sort(list(pos)) AS positions
         FROM toks GROUP BY 1, 2
       ), corpus AS (
         SELECT doc_id, unnest(l) AS term FROM lists
       ), dfreq AS (
         SELECT term, count(DISTINCT doc_id) AS doc_freq FROM corpus GROUP BY 1
       )
       SELECT f.doc_id, f.term, f.term_freq, f.positions, d.doc_freq
       FROM fwd f JOIN dfreq d USING (term)
       ORDER BY 1, 2""",
    extra=True,  # local-gate twin: per-doc forward stats, corpus df join
)
def dsl_termvectors(spark, sf_dir):
    """ES ``_mtermvectors`` (dsl.termvectors): forward stats (tf,
    positions) from an id-pruned scan of only the requested docs;
    doc_freq joined from corpus metadata (index terms table in
    production; scan twin here so the oracle replays both sides)."""
    from . import dsl

    return dsl.termvectors(
        spark, _T(spark, sf_dir, "documents"), [0, 1, 2]
    )


# Parent/child join-field table: orders as parents, lineitems as
# children, one relation — child ids offset into a disjoint range
# (l_orderkey*10 + l_linenumber stays unique and deterministic).
_PC_UNION_SQL = """
  SELECT o_orderkey AS doc_id, 'order' AS join_name,
         CAST(NULL AS BIGINT) AS join_parent,
         CAST(NULL AS DOUBLE) AS qty
  FROM orders
  UNION ALL
  SELECT 1000000000 + l_orderkey * 10 + l_linenumber AS doc_id,
         'item' AS join_name, l_orderkey AS join_parent,
         CAST(l_quantity AS DOUBLE) AS qty
  FROM lineitem
"""


def _pc_docs(spark, sf_dir):
    o = _T(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("doc_id"),
        F.lit("order").alias("join_name"),
        F.lit(None).cast("long").alias("join_parent"),
        F.lit(None).cast("double").alias("qty"),
    )
    li = _T(spark, sf_dir, "lineitem").select(
        (F.lit(1000000000) + F.col("l_orderkey") * 10 + F.col("l_linenumber"))
        .cast("long").alias("doc_id"),
        F.lit("item").alias("join_name"),
        F.col("l_orderkey").cast("long").alias("join_parent"),
        F.col("l_quantity").cast("double").alias("qty"),
    )
    return o.unionByName(li)


@q(
    "dsl_has_child",
    f"""WITH t AS ({_PC_UNION_SQL})
       SELECT doc_id FROM t p
       WHERE p.join_name = 'order' AND EXISTS (
         SELECT 1 FROM t c
         WHERE c.join_name = 'item' AND c.join_parent = p.doc_id
           AND c.qty >= 49)
       ORDER BY 1 LIMIT 50000""",
    extra=True,  # local-gate twin: relational semi-join family is
                 # driver-gated via dsl_nested / join rows
)
def dsl_has_child(spark, sf_dir):
    """ES ``has_child`` (dsl._parent_child_query): parents with ≥1 child
    of the given type matching the inner query — one child-side
    aggregate + a semi-join on the parent id (the ES parent/child
    routing key)."""
    from . import dsl

    body = {
        "query": {"has_child": {"type": "item",
                                "query": {"range": {"qty": {"gte": 49}}}}},
        "sort": [{"doc_id": "asc"}], "size": 50000, "_source": ["doc_id"],
    }
    return dsl.search(spark, _pc_docs(spark, sf_dir), body)


@q(
    "dsl_knn",
    """SELECT vec_id,
              round((1.0 + list_cosine_similarity(
                  embedding,
                  (SELECT embedding FROM embeddings WHERE vec_id = 0))) / 2.0,
                  4) AS score
       FROM embeddings
       WHERE label >= 3
       ORDER BY score DESC, vec_id ASC LIMIT 15""",
    extra=True,  # local-gate twin of the similarity family (ann_* rows)
)
def dsl_knn(spark, sf_dir):
    """ES ``knn`` search body (dsl.search knn branch): exact cosine with
    the (1+cos)/2 ES score transform and PRE-filter semantics — the
    brute-force baseline; the scale path is the built ANN indexes."""
    from . import dsl

    emb = _T(spark, sf_dir, "embeddings")
    body = {"knn": {
        "field": "embedding",
        "query_vector": _query_vec(spark, sf_dir),
        "k": 15,
        "filter": {"range": {"label": {"gte": 3}}},
    }}
    return dsl.search(spark, emb, body, id_col="vec_id")


# ---------------------------------------------------------------------------
# Driver-gate rotation (r6): the 16 registry entries that have never had a
# driver row (VERDICT r05 "What's missing" #2) rotate IN; 18 multiply-green
# twins rotate OUT to the local-gate EXTRA registry (13 are r04+r05
# double-green, 5 are r05-green family twins whose siblings stay gated).
# Every §2 operator retains a green row in CORRECTNESS_r04 ∪ r05, and every
# rotated-out entry keeps its DuckDB oracle in tests/test_queries_oracle.py.
# ---------------------------------------------------------------------------
_RETIRED_R6 = [
    # r04+r05 double-green (bm25_topk_wand stays: flagship / entry()):
    "join_broadcast_dim",    # J1 — double-green
    "groupby_sum_q1",        # A3 — double-green
    "postings",              # X1 — double-green
    "bool_filter",           # X3/P3 — double-green
    "term_count_indexed",    # X2 — double-green
    "phrase_match_indexed",  # X2+ — double-green
    "quality_score",         # textstats — double-green
    "lang_id",               # textstats — double-green
    "fingerprint_docs",      # dedup — double-green
    "dedup_exact_groups",    # dedup — double-green
    "minhash_lsh_dups",      # dedup — double-green
    "ann_ivf",               # ANN — double-green
    "embedding_near_dups",   # ANN — double-green
    # r05-green family twins (sibling rows stay driver-gated):
    "dsl_simple_query_string",  # subset twin of dsl_query_string
    "dsl_stats_bucket",         # pipeline-agg twin of dsl_pipeline_aggs
    "dsl_mad",                  # stats twin of dsl_extended_stats
    "dsl_boxplot_top_metrics",  # stats twin of dsl_extended_stats
    "dsl_adjacency_matrix",     # filters-family twin of dsl_filters_agg (in)
]
_PROMOTED_R6 = [
    "dsl_percentiles", "dsl_fuzzy", "dsl_knn", "dsl_has_child",
    "dsl_termvectors", "dsl_boosting", "dsl_constant_score",
    "dsl_function_score_weights", "dsl_explain_score", "dsl_missing_agg",
    "dsl_weighted_avg", "dsl_percentile_ranks", "dsl_filters_agg",
    "bm25_topk_highlight", "phrase_prefix_indexed", "ann_ivf_fixed",
]
for _n in _RETIRED_R6:
    EXTRA_QUERIES[_n] = QUERIES.pop(_n)
    if _n in ORACLES:
        EXTRA_ORACLES[_n] = ORACLES.pop(_n)
for _n in _PROMOTED_R6:
    QUERIES[_n] = EXTRA_QUERIES.pop(_n)
    if _n in EXTRA_ORACLES:
        ORACLES[_n] = EXTRA_ORACLES.pop(_n)


# ---------------------------------------------------------------------------
# r6: configurable analysis chain (stopwords / synonyms / stemmer) —
# VERDICT r05 "What's missing" #1. The index is built with an ES-style
# analysis config (analyze.AnalysisChain); queries analyze their terms
# with the SAME chain, so "the tbl queries sparks" retrieves docs
# containing "table"/"query"/"spark". The DuckDB oracle re-renders the
# identical chain in SQL (bm25_topk_oracle_sql(chain=...)): doc lengths
# count SURVIVING tokens (Lucene norm semantics), synonym/stem mapping
# applies to both sides. Rank identity scan==served is additionally
# pytest-gated (tests/test_analysis_chain.py).
# ---------------------------------------------------------------------------
from .analyze import AnalysisChain  # noqa: E402

CHAIN_CFG = {
    "stopwords": "_english_",
    "stemmer": "minimal_english",
    "synonyms": ["tbl => table"],
}
_CHAIN = AnalysisChain.from_config(CHAIN_CFG)
# surface forms exercise all three stages: "the" drops (stop), "tbl"
# maps (synonym), "queries"/"sparks" stem to index terms
CHAIN_QUERY = "the tbl queries sparks data"
def _ensure_chain_index(spark, sf_dir):
    """Build (once per sf_dir) the compressed index WITH the analysis
    chain recorded in stats.json (build_index(analysis=...))."""
    from .build import build_index

    def build():
        d = _fixture_dir("chain_idx_")
        build_index(
            spark, _T(spark, sf_dir, "documents"), d, n_shards=8,
            analysis=CHAIN_CFG,
        )
        return d

    return _memo("chain", sf_dir, build)


@q(
    "bm25_topk_stemmed",
    bm25_topk_oracle_sql(CHAIN_QUERY, k=BM25_K, chain=_CHAIN),
)
def bm25_topk_stemmed(spark, sf_dir):
    """X4/X5 over a chained index: block-max WAND serves a stopworded +
    stemmed + synonym-mapped index; the query is analyzed by the index's
    own chain (wand._query_terms reads stats.json "analysis")."""
    from .wand import topk

    return topk(spark, _ensure_chain_index(spark, sf_dir), CHAIN_QUERY, k=BM25_K)


@q(
    "dsl_match_stemmed",
    bm25_topk_oracle_sql(CHAIN_QUERY, k=15, chain=_CHAIN),
)
def dsl_match_stemmed(spark, sf_dir):
    """ES match over an index with a custom analyzer: dsl.search routes
    the match to the chained index (wand path) and the DSL layer needs
    no chain knowledge — analysis is an index property (stats.json)."""
    from . import dsl

    docs = _T(spark, sf_dir, "documents")
    body = {"query": {"match": {"text": CHAIN_QUERY}}, "size": 15}
    return dsl.search(spark, docs, body, index_dir=_ensure_chain_index(spark, sf_dir))


@q(
    "bm25_topk_stemmed_scan",
    bm25_topk_oracle_sql(CHAIN_QUERY, k=BM25_K, chain=_CHAIN),
    extra=True,  # rank-identity scan twin of bm25_topk_stemmed (same oracle)
)
def bm25_topk_stemmed_scan(spark, sf_dir):
    """Scan-path twin: chained postings_long/doc_lengths + exact join
    scorer over pre-analyzed query terms — proves the compressed chained
    build is rank-identical to first-principles chained scoring."""
    docs = _T(spark, sf_dir, "documents")
    p = postings_long(docs, chain=_CHAIN)
    dl = doc_lengths(docs, chain=_CHAIN)
    return bm25_topk(
        spark, p, dl, term_df(p), corpus_stats(dl), _CHAIN.tokens(CHAIN_QUERY),
        k=BM25_K,
    )


from .querystring import query_string_oracle_sql as _qs_chain_sql  # noqa: E402

CHAIN_QS = "the AND tbl AND batch* -windows"


@q(
    "dsl_query_string_stemmed",
    _qs_chain_sql(CHAIN_QS, k=15, chain=_CHAIN),
    extra=True,  # local gate: driver gate is at its 50-row cap
)
def dsl_query_string_stemmed(spark, sf_dir):
    """query_string over a chained index (r6 second wave): 'the' clause
    drops (query-time stop filter), 'tbl' synonym-maps to 'table',
    'windows' stems to 'window' for the prohibit clause, 'batch*'
    expands against the chained vocabulary. Oracle replays the same
    tree transform + chain in SQL."""
    from . import dsl

    docs = _T(spark, sf_dir, "documents")
    body = {"query": {"query_string": {"query": CHAIN_QS}}, "size": 15}
    return dsl.search(spark, docs, body, index_dir=_ensure_chain_index(spark, sf_dir))


CHAIN_QS_PH = '"hash the query" OR tbl'


@q(
    "dsl_query_string_phrase_stemmed",
    _qs_chain_sql(CHAIN_QS_PH, k=15, chain=_CHAIN),
    extra=True,  # local gate: driver gate is at its 50-row cap
)
def dsl_query_string_phrase_stemmed(spark, sf_dir):
    """query_string PHRASE over a chained index (r6 third wave, the
    former loud refusal): 'the' inside the quoted phrase drops but keeps
    its position slot, so the leaf becomes [(0,hash),(2,query)] and a doc
    needs 'query' exactly 2 positions after 'hash' — the same gap the
    index-side stop filter left. serve="index" pins the positional-
    postings path (auto would pick scan at this corpus size); the oracle
    replays the gapped join + chain in SQL."""
    from . import dsl

    docs = _T(spark, sf_dir, "documents")
    body = {"query": {"query_string": {"query": CHAIN_QS_PH,
                                       "serve": "index"}}, "size": 15}
    return dsl.search(spark, docs, body, index_dir=_ensure_chain_index(spark, sf_dir))


_CHAIN_POS_CTE = f"""rawpos AS (
      SELECT doc_id, unnest(list_transform(generate_series(1, len(toks)),
                            i -> {{'term': toks[i], 'pos': i - 1}}),
                            recursive := true)
      FROM (SELECT doc_id,
                   list_filter(regexp_split_to_array(lower(text),
                                                     '{SPLIT_RE_DUCKDB}'),
                               x -> x <> '') AS toks
            FROM documents)),
    pos AS (SELECT doc_id, {_CHAIN.sql_term('term')} AS term, pos
            FROM rawpos WHERE {_CHAIN.sql_keep('term')})"""


@q(
    "dsl_span_near_stemmed",
    f"""WITH {_CHAIN_POS_CTE}
    SELECT DISTINCT a.doc_id
    FROM pos a JOIN pos b USING (doc_id)
    WHERE a.term = 'hash' AND b.term = 'query'
      AND a.pos < b.pos AND b.pos - a.pos - 1 <= 1
    ORDER BY a.doc_id LIMIT 50""",
    extra=True,  # local gate: driver gate is at its 50-row cap
)
def dsl_span_near_stemmed(spark, sf_dir):
    """span_near over a chained index (r6 fourth wave, the last chain
    refusal): span_term values are verbatim index-vocabulary terms and
    slop windows run over the stop-GAPPED positions the index stores —
    'hash ... query' within one gap catches the "hash the query" docs
    whose 'the' dropped. The oracle replays the gapped self-join over
    chain-filtered positional tokens."""
    from . import dsl

    body = {"query": {"span_near": {
        "clauses": [{"span_term": {"text": "hash"}},
                    {"span_term": {"text": "query"}}],
        "slop": 1, "in_order": True}}, "size": 50}
    out = dsl.search(spark, _T(spark, sf_dir, "documents"), body,
                     index_dir=_ensure_chain_index(spark, sf_dir))
    return out.select("doc_id")


from .dsl import combined_fields_oracle_sql as _cf_sql  # noqa: E402


@q(
    "dsl_combined_fields",
    _cf_sql("query src1 hash", ["text", "source^2"], k=15),
    extra=True,  # local gate: driver gate is at its 50-row cap
)
def dsl_combined_fields(spark, sf_dir):
    """ES ``combined_fields`` (dsl._combined_fields_topk): BM25F over
    text + source^2 — ONE combined field whose term freqs and length are
    the boost-weighted sums, with collection stats of the combination,
    so a doc matching across BOTH fields outranks single-field stuffing
    (the multi_match best_fields contrast). The oracle replays the
    weighted unions in SQL."""
    from . import dsl

    body = {"query": {"combined_fields": {
        "query": "query src1 hash", "fields": ["text", "source^2"]}},
        "size": 15}
    return dsl.search(spark, _T(spark, sf_dir, "documents"), body)


def _ensure_split_indexes(spark, sf_dir):
    """Two indexes over disjoint sub-corpora (lang='en' vs the rest) —
    the multi-index search fixture, built once per sf_dir."""
    from .build import build_index

    def build():
        docs = _T(spark, sf_dir, "documents")
        den = _fixture_dir("mi_en_")
        dxx = _fixture_dir("mi_xx_")
        build_index(spark, docs.filter(F.col("lang") == "en"), den, n_shards=4)
        build_index(spark, docs.filter(F.col("lang") != "en"), dxx, n_shards=4)
        return den, dxx

    return _memo("multi", sf_dir, build)


def _multi_index_oracle_sql(k: int = 10) -> str:
    a = bm25_topk_oracle_sql(
        BM25_QUERY, k=k,
        doc_table="(SELECT * FROM documents WHERE lang = 'en')",
    )
    b = bm25_topk_oracle_sql(
        BM25_QUERY, k=k,
        doc_table="(SELECT * FROM documents WHERE lang <> 'en')",
    )
    return f"""
        SELECT * FROM (
          SELECT 'en' AS _index, doc_id, round(score * 2.0, 4) AS score
          FROM ({a}) sa
          UNION ALL
          SELECT 'xx' AS _index, doc_id, round(score * 1.0, 4) AS score
          FROM ({b}) sb
        ) u
        ORDER BY score DESC, _index ASC, doc_id ASC LIMIT {k}
    """


@q("multi_index_search", _multi_index_oracle_sql(), extra=True)
def multi_index_search(spark, sf_dir):
    """ES multi-index search with indices_boost (dsl.multi_index_topk):
    the en index boosted 2.0 vs the rest at 1.0 (an exact-at-4dp
    boost: a .5 multiplier of a 4-decimal score always lands on the
    5th-decimal midpoint, where Spark's HALF_UP and DuckDB's rounding
    disagree — the engine API accepts any positive boost; the FIXTURE
    avoids manufactured midpoints), each scoring with its
    OWN corpus stats (ES per-index dfs/avgdl), global top-k merged from
    the per-index top-k pages. The oracle scores the two sub-corpora
    independently and merges identically."""
    from . import dsl

    den, dxx = _ensure_split_indexes(spark, sf_dir)
    return dsl.multi_index_topk(
        spark, {"en": (den, 2.0), "xx": (dxx, 1.0)}, BM25_QUERY, k=10
    )


def _ensure_routed_index(spark, sf_dir):
    from .build import build_index

    def build():
        d = _fixture_dir("routed_idx_")
        build_index(spark, _T(spark, sf_dir, "documents"), d,
                    n_shards=8, routing_field="source")
        return d

    return _memo("routed", sf_dir, build)


def _routed_oracle_sql() -> str:
    from .build import routing_shard_id

    sid = routing_shard_id("src1", 8)
    return bm25_topk_oracle_sql(
        BM25_QUERY, k=10,
        candidate_clause=(
            "p.doc_id IN (SELECT doc_id FROM documents WHERE "
            "CAST(concat('0x', substr(md5(source), 1, 15)) AS BIGINT) "
            f"% 8 = {sid})"
        ),
    )


@q("bm25_topk_routed", _routed_oracle_sql(), extra=True)
def bm25_topk_routed(spark, sf_dir):
    """ES routed search (``?routing=``): the index shards by
    hash(source) % 8 (build_index routing_field=), and the query prunes
    to routing key src1's shard — wand.topk(routing=) opens only that
    shard's posting files, scores stay GLOBAL (identical to the
    unrouted query's). The oracle restricts candidates to the docs whose
    source hashes to the same shard via the portable md5 hash — ES
    semantics exactly: the whole shard is visible, including other keys
    that collide into it."""
    from .wand import topk

    return topk(spark, _ensure_routed_index(spark, sf_dir), BM25_QUERY,
                k=10, routing="src1")


# ---------------------------------------------------------------------------
# r6c — matrix_stats / t_test / percentiles_bucket / normalize aggs,
# post_filter / min_score / track_total_hits search-body features,
# sliced export. All extra=True (local oracle gate; rotation candidates
# for the next driver-gate window).
# ---------------------------------------------------------------------------

# SQL-quoted twin of textstats.BPE_SPLIT_RE — DERIVED from the one
# constant (only the SQL quote escaping differs), so an edit to the
# Python pattern can never silently drift from the oracle's
from .textstats import BPE_SPLIT_RE as _BPE_SPLIT_RE

_BPE_RE_SQL = _BPE_SPLIT_RE.replace("'", "''")
_TOKS_DUCK = (
    "list_filter(regexp_split_to_array(lower(text), "
    f"'{SPLIT_RE_DUCKDB}'), x -> x <> '')"
)
_PH_MOD = (
    "CAST(concat('0x', substr(md5({v}), 1, 15)) AS BIGINT) % 2147483647"
)


@q(
    "token_counts",
    f"""SELECT doc_id,
          len({_TOKS_DUCK}) AS ws_tokens,
          len(regexp_extract_all(text, '{_BPE_RE_SQL}')) AS bpe_tokens
        FROM documents""",
    extra=True,
)
def token_counts_q(spark, sf_dir):
    """LLM token budgets per doc: analyzer tokens + the BPE-ish
    pre-tokenizer count (textstats.bpe_token_count_col — the GPT-2
    piece-boundary regex restricted to the Java∩RE2 dialect). Pure
    Catalyst; the oracle runs the identical regex."""
    from .textstats import token_counts

    return token_counts(_T(spark, sf_dir, "documents"))


@q(
    "rolling_fingerprint",
    f"""SELECT doc_id,
          list_reduce(
            list_prepend(CAST(0 AS BIGINT),
              list_transform({_TOKS_DUCK},
                             t -> {_PH_MOD.format(v='t')})),
            (acc, x) -> (acc * 1000003 + x) % 2147483647) AS rh
        FROM documents""",
    extra=True,
)
def rolling_fingerprint_q(spark, sf_dir):
    """Rabin–Karp rolling-hash fingerprint of the token stream
    (textstats.rolling_hash_col): one F.aggregate HOF, zero shuffle —
    and INCREMENTAL, unlike the md5 whole-text fingerprint: chunk
    hashes combine, so streamed 100-TB ingest fingerprints without
    buffering whole documents. DuckDB twin: list_reduce over the
    identical (acc·B + h) mod M arithmetic."""
    from .textstats import rolling_hash_col

    return _T(spark, sf_dir, "documents").select(
        "doc_id", rolling_hash_col(F.col("text")).alias("rh")
    )


@q(
    "winnow_fp",
    f"""WITH tok AS (SELECT doc_id, {_TOKS_DUCK} AS toks FROM documents),
        sh AS (SELECT doc_id,
                 CASE WHEN len(toks) >= 5 THEN
                   list_transform(generate_series(1, len(toks) - 4),
                     i -> {_PH_MOD.format(v="array_to_string(toks[i:i+4], ' ')")})
                 ELSE [] END AS hs
               FROM tok),
        mn AS (SELECT doc_id,
                 CASE WHEN len(hs) >= 4 THEN
                   list_transform(generate_series(1, len(hs) - 3),
                                  j -> list_aggregate(hs[j:j+3], 'min'))
                 ELSE [] END AS mins
               FROM sh)
        SELECT doc_id, unnest(list_distinct(mins)) AS fp FROM mn""",
    extra=True,
)
def winnow_fp_q(spark, sf_dir):
    """MOSS winnowing fingerprints (textstats.winnow_fingerprints,
    k=5 w=4): every shared token run of length >= 8 between two docs
    shares a fingerprint — bounded-density substring matching, the
    substring-level complement to MinHash's set similarity. Array HOFs
    end-to-end; the only shuffle is the caller's join on fp."""
    from .textstats import winnow_fingerprints

    return winnow_fingerprints(_T(spark, sf_dir, "documents"))


def _ip_range_oracle_sql() -> str:
    from .dsl import _cidr_bounds, _ipv4_int

    lo_m, hi_m = _cidr_bounds("10.96.0.0/11")
    a, b, c = (_ipv4_int(x) for x in
               ("10.50.0.0", "10.120.0.0", "10.120.0.0"))
    return f"""
        WITH ips AS (
          SELECT printf('10.%d.%d.%d', user_id % 200, (user_id * 7) % 256,
                        (user_id * 13) % 256) AS ip
          FROM events),
        num AS (
          SELECT CAST(split_part(ip, '.', 1) AS BIGINT) * 16777216
               + CAST(split_part(ip, '.', 2) AS BIGINT) * 65536
               + CAST(split_part(ip, '.', 3) AS BIGINT) * 256
               + CAST(split_part(ip, '.', 4) AS BIGINT) AS n
          FROM ips)
        SELECT key, count(*) AS doc_count FROM (
          SELECT unnest(list_filter([
            CASE WHEN n < {a} THEN '*-10.50.0.0' END,
            CASE WHEN n >= {a} AND n < {b}
                 THEN '10.50.0.0-10.120.0.0' END,
            CASE WHEN n >= {lo_m} AND n < {hi_m} THEN '10.96.0.0/11' END,
            CASE WHEN n >= {c} THEN '10.120.0.0-*' END
          ], x -> x IS NOT NULL)) AS key FROM num)
        GROUP BY 1
    """


@q("dsl_ip_range", _ip_range_oracle_sql(), extra=True)
def dsl_ip_range(spark, sf_dir):
    """ES ``ip_range`` agg (dsl.py): IPv4 from/to ranges + an
    OVERLAPPING CIDR mask bucket, independent exploded-tag semantics —
    the address compares as its u32 value via pure split/cast codegen;
    the CIDR bucket's bounds come from the same _cidr_bounds helper the
    oracle's SQL was generated with (host bits masked off, ES
    behavior)."""
    from . import dsl

    ips = _T(spark, sf_dir, "events").select(
        F.format_string(
            "10.%d.%d.%d",
            (F.col("user_id") % 200).cast("int"),
            (F.col("user_id") * 7 % 256).cast("int"),
            (F.col("user_id") * 13 % 256).cast("int"),
        ).alias("ip")
    )
    body = {"size": 0, "aggs": {"r": {"ip_range": {
        "field": "ip",
        "ranges": [
            {"to": "10.50.0.0"},
            {"from": "10.50.0.0", "to": "10.120.0.0"},
            {"mask": "10.96.0.0/11"},
            {"from": "10.120.0.0"},
        ],
    }}}}
    out = dsl.search(spark, ips, body)
    return out.select(F.col("r_key").alias("key"), "doc_count")


@q(
    "dsl_matrix_stats",
    """WITH s AS (
         SELECT CASE WHEN value IS NOT NULL AND user_id IS NOT NULL
                     THEN CAST(value AS DOUBLE) END AS v,
                CASE WHEN value IS NOT NULL AND user_id IS NOT NULL
                     THEN CAST(user_id AS DOUBLE) END AS u
         FROM events)
       SELECT count(v) AS value_count,
              round(avg(v), 4) AS value_mean,
              round(var_samp(v), 4) AS value_variance,
              round((avg(v*v*v) - 3*avg(v)*avg(v*v) + 2*power(avg(v), 3))
                    / power(avg(v*v) - avg(v)*avg(v), 1.5), 4)
                AS value_skewness,
              round((avg(v*v*v*v) - 4*avg(v)*avg(v*v*v)
                     + 6*avg(v)*avg(v)*avg(v*v) - 3*power(avg(v), 4))
                    / power(avg(v*v) - avg(v)*avg(v), 2), 4)
                AS value_kurtosis,
              count(u) AS user_id_count,
              round(avg(u), 4) AS user_id_mean,
              round(var_samp(u), 4) AS user_id_variance,
              round((avg(u*u*u) - 3*avg(u)*avg(u*u) + 2*power(avg(u), 3))
                    / power(avg(u*u) - avg(u)*avg(u), 1.5), 4)
                AS user_id_skewness,
              round((avg(u*u*u*u) - 4*avg(u)*avg(u*u*u)
                     + 6*avg(u)*avg(u)*avg(u*u) - 3*power(avg(u), 4))
                    / power(avg(u*u) - avg(u)*avg(u), 2), 4)
                AS user_id_kurtosis,
              round(covar_samp(v, u), 4) AS value_user_id_covariance,
              round(corr(v, u), 4) AS value_user_id_correlation
       FROM s""",
    extra=True,
)
def dsl_matrix_stats(spark, sf_dir):
    """ES ``matrix_stats`` agg (dsl.py leaf): per-field moments + the
    pairwise covariance/correlation matrix in ONE pass, rows missing any
    field dropped (ES's completeness rule). Sample (n-1) variance /
    covariance; skewness and kurtosis (non-excess) from raw power sums —
    the identical arithmetic the oracle runs, since Spark's and DuckDB's
    builtin skewness/kurtosis disagree on bias correction."""
    from . import dsl

    body = {
        "size": 0,
        "aggs": {"m": {"matrix_stats": {"fields": ["value", "user_id"]}}},
    }
    out = dsl.search(spark, _T(spark, sf_dir, "events"), body,
                     id_col="event_id")
    return out.select(*[
        F.col(c) if c.endswith("_count") else F.round(c, 4).alias(c)
        for c in out.columns
    ])


@q(
    "dsl_t_test",
    """WITH s AS (
         SELECT CASE WHEN event_type = 'click' THEN value END AS a,
                CASE WHEN event_type = 'view' THEN value END AS b
         FROM events),
       g AS (
         SELECT count(a)::DOUBLE AS na, count(b)::DOUBLE AS nb,
                avg(a) AS ma, avg(b) AS mb,
                var_samp(a) AS va, var_samp(b) AS vb
         FROM s)
       SELECT round((ma - mb) / sqrt(va/na + vb/nb), 4) AS t,
              round(power(va/na + vb/nb, 2)
                    / (power(va/na, 2) / (na - 1)
                       + power(vb/nb, 2) / (nb - 1)), 4) AS df
       FROM g""",
    extra=True,
)
def dsl_t_test(spark, sf_dir):
    """ES ``t_test`` agg (dsl.py leaf), Welch/heteroscedastic (the ES
    default): click-vs-view event values as null-masked populations over
    ONE scan. Documented deviation: returns the t statistic +
    Welch–Satterthwaite df instead of ES's p-value (the t→p incomplete
    beta isn't expressible in either engine's SQL)."""
    from . import dsl

    body = {
        "size": 0,
        "aggs": {"tt": {"t_test": {
            "a": {"field": "value",
                  "filter": {"term": {"event_type": "click"}}},
            "b": {"field": "value",
                  "filter": {"term": {"event_type": "view"}}},
            "type": "heteroscedastic",
        }}},
    }
    out = dsl.search(spark, _T(spark, sf_dir, "events"), body,
                     id_col="event_id")
    return out.select(F.round("t", 4).alias("t"), F.round("df", 4).alias("df"))


@q(
    "dsl_percentiles_bucket",
    """WITH b AS (
         SELECT CAST(floor(value / 100) * 100 AS BIGINT) AS h_key,
                sum(value) AS s
         FROM events GROUP BY 1)
       SELECT round(quantile_cont(s, 0.25), 4) AS pb_p25,
              round(quantile_cont(s, 0.50), 4) AS pb_p50,
              round(quantile_cont(s, 0.75), 4) AS pb_p75
       FROM b""",
    extra=True,
)
def dsl_percentiles_bucket(spark, sf_dir):
    """ES ``percentiles_bucket`` sibling pipeline (dsl.py): percentiles
    of a metric across the sibling histogram's bucket stream — linear
    interpolation (Spark `percentile` ≡ DuckDB `quantile_cont`;
    documented deviation from ES's nearest-bucket pick, consistent with
    the engine's exact-percentiles policy)."""
    from . import dsl

    body = {
        "size": 0,
        "aggs": {
            "h": {"histogram": {"field": "value", "interval": 100},
                  "aggs": {"s": {"sum": {"field": "value"}}}},
            "pb": {"percentiles_bucket": {"buckets_path": "h>s",
                                          "percents": [25, 50, 75]}},
        },
    }
    out = dsl.search(spark, _T(spark, sf_dir, "events"), body,
                     id_col="event_id")
    return out.select(*[F.round(c, 4).alias(c) for c in out.columns])


@q(
    "dsl_normalize",
    """WITH b AS (
         SELECT CAST(floor(value / 100) * 100 AS BIGINT) AS h_key,
                sum(value) AS value, count(*) AS doc_count
         FROM events GROUP BY 1)
       SELECT h_key, round(value, 4) AS value, doc_count,
              round(value / sum(value) OVER (), 4) AS pct
       FROM b""",
    extra=True,
)
def dsl_normalize(spark, sf_dir):
    """ES ``normalize`` pipeline agg (dsl.py): percent_of_sum of a
    sibling metric across ALL buckets of the level — a window over the
    already-reduced bucket frame (bucket-count rows, never doc rows)."""
    from . import dsl

    body = {
        "size": 0,
        "aggs": {"h": {
            "histogram": {"field": "value", "interval": 100},
            "aggs": {
                "s": {"sum": {"field": "value"}},
                "pct": {"normalize": {"buckets_path": "s",
                                      "method": "percent_of_sum"}},
            },
        }},
    }
    out = dsl.search(spark, _T(spark, sf_dir, "events"), body,
                     id_col="event_id")
    return out.select(
        "h_key", F.round("value", 4).alias("value"), "doc_count",
        F.round("pct", 4).alias("pct"),
    )


@q(
    "sliced_scan",
    "SELECT doc_id, n_chars FROM documents "
    "WHERE CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) "
    "AS BIGINT) % 4 = 1",
    extra=True,
)
def sliced_scan(spark, sf_dir):
    """ES sliced scroll's partition predicate (dsl.scroll slice=):
    slice 1 of 4 over the id space via the portable md5 hash
    (dedup.portable_hash60) — one of 4 disjoint pushed-down predicates
    that tile the corpus for parallel bulk export, reproduced exactly by
    the DuckDB twin."""
    from .dedup import portable_hash60

    docs = _T(spark, sf_dir, "documents")
    return docs.filter(
        portable_hash60(F.col("doc_id").cast("string")) % F.lit(4) == F.lit(1)
    ).select("doc_id", "n_chars")


@q(
    "dsl_track_total_hits",
    """SELECT doc_id, lang, n_chars,
              (SELECT count(*) FROM documents WHERE n_chars >= 300)
                AS total_hits
       FROM documents WHERE n_chars >= 300
       ORDER BY doc_id LIMIT 20""",
    extra=True,
)
def dsl_track_total_hits(spark, sf_dir):
    """ES ``track_total_hits``: the exact pre-pagination match count
    attached to every hit of a filter-context page (dsl.search) — a
    1-row broadcast join, never a single-partition window."""
    from . import dsl

    body = {
        "query": {"range": {"n_chars": {"gte": 300}}},
        "track_total_hits": True,
        "sort": [{"doc_id": "asc"}],
        "size": 20,
        "_source": ["doc_id", "lang", "n_chars", "total_hits"],
    }
    return dsl.search(spark, _T(spark, sf_dir, "documents"), body)


@q(
    "dsl_post_filter",
    bm25_topk_oracle_sql(
        BM25_QUERY, k=10,
        candidate_clause=(
            "p.doc_id IN (SELECT doc_id FROM documents WHERE lang = 'en')"
        ),
    ),
    extra=True,
)
def dsl_post_filter(spark, sf_dir):
    """ES ``post_filter`` on a scoring query (dsl.search): hits
    restricted to lang='en' AFTER scoring — scores identical to the
    unfiltered query (corpus stats untouched), the page backfilled from
    the next matching hits, exactly ES's post-scoring filter (the aggs
    divergence cannot arise: aggs bodies refuse post_filter loudly)."""
    from . import dsl

    body = {
        "query": {"match": {"text": BM25_QUERY}},
        "post_filter": {"term": {"lang": "en"}},
        "size": 10,
    }
    return dsl.search(spark, _T(spark, sf_dir, "documents"), body)


@q(
    "dsl_min_score",
    f"""SELECT doc_id, score FROM (
          {bm25_topk_oracle_sql(BM25_QUERY, k=10)}
        ) s WHERE score >= 1.0""",
    extra=True,
)
def dsl_min_score(spark, sf_dir):
    """ES ``min_score`` (dsl.search page()): hits below the threshold
    drop from the ranked page — applied on the rounded tie surface, a
    PREFIX of the score-desc ordering, so truncate-then-filter equals
    ES's filter-then-paginate."""
    from . import dsl

    body = {
        "query": {"match": {"text": BM25_QUERY}},
        "min_score": 1.0,
        "size": 10,
    }
    return dsl.search(spark, _T(spark, sf_dir, "documents"), body)


# --- r6 late rotation: give this round's new operators driver-gate rows ---
# (the gate caps at 50; retired twins keep their DuckDB oracles in the
# local pytest mini-driver, and all three outgoing rows are r05 driver-
# green family twins of rows still in the gate)
_RETIRED_R6B = [
    "dsl_dis_max",        # r05 green; compound family keeps boosting/
                          # constant_score/function_score_weights rows
    "dsl_string_stats",   # r05 green; stats family keeps extended_stats
    "dsl_more_like_this", # r05 green; index-served MLT parity stays
                          # pytest-gated
]
_PROMOTED_R6B = [
    "dsl_query_string_phrase_stemmed",  # chained phrase stop-gaps
    "dsl_span_near_stemmed",            # chained span gap arithmetic
    "dsl_combined_fields",              # BM25F
]
for _n in _RETIRED_R6B:
    EXTRA_QUERIES[_n] = QUERIES.pop(_n)
    if _n in ORACLES:
        EXTRA_ORACLES[_n] = ORACLES.pop(_n)
for _n in _PROMOTED_R6B:
    QUERIES[_n] = EXTRA_QUERIES.pop(_n)
    if _n in EXTRA_ORACLES:
        ORACLES[_n] = EXTRA_ORACLES.pop(_n)


@q(
    "dsl_terms_partition",
    "SELECT source, count(*) AS doc_count FROM documents "
    "WHERE CAST(concat('0x', substr(md5(source), 1, 15)) AS BIGINT) % 3 = 1 "
    "GROUP BY source ORDER BY doc_count DESC, source LIMIT 1000",
    extra=True,
)
def dsl_terms_partition(spark, sf_dir):
    """ES terms-agg partitioning ({"include": {"partition",
    "num_partitions"}}): a huge-cardinality terms agg pages as disjoint
    hash-partitions of the KEY space — partition 1 of 3 here, via the
    portable md5 hash the DuckDB twin reproduces. The predicate applies
    before the count shuffle, so each request aggregates ~1/N of the
    keys."""
    from . import dsl

    body = {"size": 0, "aggs": {"src": {"terms": {
        "field": "source", "size": 1000,
        "include": {"partition": 1, "num_partitions": 3},
    }}}}
    return dsl.search(spark, _T(spark, sf_dir, "documents"), body)


@q(
    "dsl_rate",
    "SELECT date_trunc('hour', ts) AS h_key, "
    "round(sum(value) / 60.0, 4) AS r_value, "
    "count(*) AS doc_count FROM events GROUP BY 1",
    extra=True,
)
def dsl_rate(spark, sf_dir):
    """ES ``rate`` agg under an hourly date_histogram: per-minute sum
    rate (hourly sum / 60). Documented deviation: the enclosing
    interval is stated explicitly in the rate spec (ES infers it from
    the parent; the leaf compiler here is context-free) and must be a
    fixed-length unit — the calendar-ratio table for month/quarter is
    deliberately out of scope."""
    from . import dsl

    body = {"size": 0, "aggs": {"h": {
        "date_histogram": {"field": "ts", "calendar_interval": "hour"},
        "aggs": {"r": {"rate": {"field": "value", "interval": "1h",
                                "unit": "minute"}}},
    }}}
    out = dsl.search(spark, _T(spark, sf_dir, "events"), body,
                     id_col="event_id")
    return out.select(
        "h_key", F.round("value", 4).alias("r_value"), "doc_count"
    )


# --- r6c rotation: this session's NEW operators take driver-gate rows ---
# Retirees are all r05 driver-green (their operators keep a green row in
# the r04 ∪ r05 ∪ r06 union) and stay DuckDB-gated in the local pytest
# mini-driver; every promoted row is oracle-green at sf0.01 (the
# driver's own scale) in tests/test_queries_oracle.py.
_RETIRED_R6C = [
    "dsl_multi_match",     # r05 green; combined_fields (BM25F) stays gated
    "dsl_top_hits",        # r05 green; top_metrics family covered
    "dsl_date_histogram",  # r05 green; histogram family stays gated
    "dsl_regexp",          # r05 green; wildcard/fuzzy leaves stay gated
    "dsl_rescore",         # r05 green
    "dsl_suggest",         # r05 green
    "dsl_composite",       # r05 green
    "dsl_extended_stats",  # r05 green; matrix_stats supersedes in-gate
    "dsl_rank_feature",    # r05 green
    "dsl_terms_set",       # r05 green
    "dsl_multi_terms",     # r05 green
    "dsl_rare_terms",      # r05 green
    "dsl_geotile_grid",    # r05 green; geo_distance stays gated
    "dsl_runtime_fields",  # r05 green
]
_PROMOTED_R6C = [
    "dsl_matrix_stats", "dsl_t_test", "dsl_percentiles_bucket",
    "dsl_normalize", "sliced_scan", "dsl_track_total_hits",
    "dsl_post_filter", "dsl_min_score", "bm25_topk_routed",
    "token_counts", "rolling_fingerprint", "winnow_fp",
    "dsl_significant_text", "multi_index_search",
]
for _n in _RETIRED_R6C:
    EXTRA_QUERIES[_n] = QUERIES.pop(_n)
    if _n in ORACLES:
        EXTRA_ORACLES[_n] = ORACLES.pop(_n)
for _n in _PROMOTED_R6C:
    QUERIES[_n] = EXTRA_QUERIES.pop(_n)
    if _n in EXTRA_ORACLES:
        ORACLES[_n] = EXTRA_ORACLES.pop(_n)
