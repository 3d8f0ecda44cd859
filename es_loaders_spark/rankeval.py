"""ES ``_rank_eval`` analogue: batch search-quality evaluation.

ES's ranking-evaluation API takes rated search requests and reports a
quality metric per request plus the mean. Spark-first shape: ALL rated
requests execute as ONE ``wand.topk_batch`` — a loop over the shards in
the driver process for a small batch on a small index, else one
``mapInPandas`` stage over the warm doclens; either way each shard's
queries share decoded blocks (a 10k-query evaluation run is one
distributed pass, not 10k round trips) — the ratings become a small broadcast relation, and every
metric is a groupBy over the joined (results × ratings) frame — no
driver loops over hits.

Metrics (the four ES ships): precision@k, recall@k,
mean_reciprocal_rank, dcg (optionally normalized → NDCG). Unrated docs
count as non-relevant (ES default) for precision/MRR; recall's
denominator is the request's relevant-rating count, as in ES.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_SUPPORTED = ("precision", "recall", "mean_reciprocal_rank", "dcg")


def rank_eval(
    spark: SparkSession,
    index_dir: str,
    requests: list[dict[str, Any]],
    metric: dict[str, Any],
    text_col: str = "text",
) -> tuple[float, DataFrame]:
    """Evaluate rated requests against the index.

    ``requests``: ES shape — ``[{"id": ..., "request": {"query":
    {"match": {text_col: ...}}}, "ratings": [{"_id": doc_id, "rating":
    int}, ...]}, ...]``. ``metric``: one of ``{"precision": {"k": 10,
    "relevant_rating_threshold": 1}}`` / ``recall`` / ``{"mean_
    reciprocal_rank": {...}}`` / ``{"dcg": {"k": 10, "normalize":
    bool}}``.

    Returns ``(metric_score, per_request_df)`` where the DataFrame has
    (query_id, metric_score) — the driver-side scalar is the mean, the
    only thing collected.
    """
    from .wand import topk_batch

    if len(metric) != 1:
        raise ValueError(f"exactly one metric, got {sorted(metric)}")
    (mname, mspec), = metric.items()
    if mname not in _SUPPORTED:
        raise ValueError(f"unsupported metric {mname!r} (use {_SUPPORTED})")
    mspec = mspec or {}
    k = int(mspec.get("k", 10))
    thr = int(mspec.get("relevant_rating_threshold", 1))

    batch: dict[str, str] = {}
    rating_rows: list[tuple[str, int, int]] = []
    for req in requests:
        qid = str(req["id"])
        query = req["request"]["query"]
        (kind, sub), = query.items()
        if kind != "match":
            raise ValueError(
                f"rank_eval request {qid!r}: only match queries are "
                f"index-served (got {kind!r})"
            )
        (fld, v), = sub.items()
        if isinstance(v, dict):
            v = v["query"]
        if fld != text_col:
            raise ValueError(
                f"rank_eval request {qid!r} must match the indexed column "
                f"{text_col!r}; got {fld!r}"
            )
        batch[qid] = str(v)
        for r in req.get("ratings", []):
            rating_rows.append((qid, int(r["_id"]), int(r["rating"])))

    hits = topk_batch(spark, index_dir, batch, k=k)
    ratings = spark.createDataFrame(
        rating_rows, "query_id string, doc_id long, rating int"
    )
    qids = spark.createDataFrame(
        [(q,) for q in batch], "query_id string"
    )
    joined = hits.join(F.broadcast(ratings), ["query_id", "doc_id"], "left")
    rel = F.coalesce(F.col("rating"), F.lit(0)) >= F.lit(thr)

    if mname == "precision":
        # ES's Precision metric divides by the number of ACTUALLY
        # retrieved docs (<= k), not by k — a query returning 3 hits,
        # 3 relevant, scores 1.0 (ADVICE r05: fixed-k under-scored it).
        per = joined.groupBy("query_id").agg(
            (F.sum(rel.cast("int")) / F.count(F.lit(1)))
            .alias("metric_score")
        )
    elif mname == "recall":
        denom = (
            ratings.filter(F.col("rating") >= F.lit(thr))
            .groupBy("query_id")
            .agg(F.count(F.lit(1)).alias("_nrel"))
        )
        per = (
            joined.groupBy("query_id")
            .agg(F.sum(rel.cast("int")).alias("_found"))
            .join(F.broadcast(denom), "query_id", "left")
            .select(
                "query_id",
                F.when(
                    F.coalesce(F.col("_nrel"), F.lit(0)) > 0,
                    F.col("_found") / F.col("_nrel"),
                ).otherwise(F.lit(0.0)).alias("metric_score"),
            )
        )
    elif mname == "mean_reciprocal_rank":
        per = joined.groupBy("query_id").agg(
            F.coalesce(
                F.lit(1.0) / F.min(F.when(rel, F.col("rank"))), F.lit(0.0)
            ).alias("metric_score")
        )
    else:  # dcg
        gain = (
            F.pow(F.lit(2.0), F.coalesce(F.col("rating"), F.lit(0))) - F.lit(1.0)
        ) / F.log2(F.col("rank") + F.lit(1.0))
        per = joined.groupBy("query_id").agg(F.sum(gain).alias("metric_score"))
        if mspec.get("normalize"):
            from pyspark.sql.window import Window

            w = Window.partitionBy("query_id").orderBy(F.desc("rating"))
            ideal = (
                ratings.withColumn("rank", F.row_number().over(w))
                .filter(F.col("rank") <= F.lit(k))
                .groupBy("query_id")
                .agg(F.sum(
                    (F.pow(F.lit(2.0), F.col("rating")) - F.lit(1.0))
                    / F.log2(F.col("rank") + F.lit(1.0))
                ).alias("_idcg"))
            )
            per = per.join(F.broadcast(ideal), "query_id", "left").select(
                "query_id",
                F.when(
                    F.coalesce(F.col("_idcg"), F.lit(0.0)) > 0,
                    F.col("metric_score") / F.col("_idcg"),
                ).otherwise(F.lit(0.0)).alias("metric_score"),
            )

    # requests with zero hits still report a row (score 0), like ES
    per = (
        qids.join(per, "query_id", "left")
        .select(
            "query_id",
            F.round(F.coalesce(F.col("metric_score"), F.lit(0.0)), 6)
            .alias("metric_score"),
        )
        .orderBy("query_id")
    )
    rows = per.collect()
    score = sum(r.metric_score for r in rows) / max(1, len(rows))
    return round(score, 6), per
