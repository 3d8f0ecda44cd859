#!/usr/bin/env python
"""Benchmark harness (driver contract).

Runs the headline pipeline at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON
line: {"metric": ..., "value": docs_per_sec, "unit": ..., "queries":
{name: sec}, "sf": ...}.

Headline metric: full index-build throughput (docs/sec) over a
synthesized Common-Crawl-style corpus — extract(html) → deterministic
docIDs → sharded compressed postings (the BASELINE.json metric). Query
timings cover BM25 top-k via block-max WAND (single query and the
msearch-style batch, amortized) plus representative SURVEY §2
operators. Stdout carries only the JSON line.

Measurement discipline (VERDICT r02): the whole suite runs
SPARK_GRAFT_BENCH_SAMPLES times (default 2) as interleaved passes and
each item reports its MINIMUM — the single-sample numbers of r01/r02
could not separate engine structure from the VM's ~3× co-tenant noise
(BENCH.md; bench/scaling.py uses the same discipline).

Build timings: ``index_build_web`` / ``index_build_documents`` build
BM25-only indexes (positions=False) — the north-rule artifact
(postings + block-max metadata) and the r01 comparator. The cost of the
optional positional payloads (phrase queries) is reported separately as
``index_build_documents_positional``.

Scaling evidence (N vs 4N cores) lives in bench/scaling.py → BENCH.md.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time
from collections import defaultdict

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def build_pipeline(spark, n_pages: int, idx_dir: str, n_shards: int,
                   seed: int = 42, positions: bool = False):
    """The full north-star build: synthesize → extract → ids → ingest → index.

    The docID-assigned extracted corpus is materialized to a table before
    indexing (SURVEY §1.4: ids assigned once at ingest) — so the two
    index passes (doclens, postings) read parquet instead of recomputing
    the synthesize/extract/rank chain.
    """
    from pyspark.sql import functions as F

    from es_loaders_spark.analyze import SPLIT_RE_JAVA
    from es_loaders_spark.build import assign_doc_ids, build_index
    from es_loaders_spark.corpus import synthesize_web_pages
    from es_loaders_spark.extract import with_extracted_text

    # NO persist of the html pages: caching ~GBs of html rows in the heap
    # degrades the 16-concurrent build badly at scale (interleaved A/B at
    # 800k pages, local[32]: persist 209 s vs recompute 161 s vs r2-style
    # single-scan 137 s). The synth is seed-deterministic, so the
    # extraction split's two branch scans may recompute it; on a
    # table-backed source (the input_hint's real shape) the two scans are
    # pruned parquet reads and this question disappears.
    pages = synthesize_web_pages(spark, n_pages, seed=seed)
    # rank only the (small) url column through the range shuffle; join ids
    # back onto the wide rows BROADCAST (url+id is tiny next to html bytes,
    # which therefore never enter any shuffle)
    ids = assign_doc_ids(pages.select("url"))
    docs = (
        # JVM extraction fast path: no Python workers, no Arrow transfer
        # of html bytes (BENCH.md round-2 profile: the pandas-UDF extract
        # was the dominant, worst-scaling stage). Exact incl. numeric
        # character refs: the rare &#-rows split off to the single-pass
        # HOF decoder at the DATAFRAME level, keeping the hot branch in
        # whole-stage codegen (a HOF inside a row-level CASE forces
        # interpreted eval — measured 4.5× on this build: the condition,
        # branch, and collapsed dl projection each re-evaluate the
        # extraction subtree without codegen CSE).
        with_extracted_text(pages.join(F.broadcast(ids), "url"))
        # token count computed once here; build_index's stats stage then
        # reads a columnar dl instead of re-tokenizing the corpus
        .withColumn(
            "dl",
            F.size(
                F.filter(
                    F.split(F.lower(F.col("text")), SPLIT_RE_JAVA),
                    lambda t: t != F.lit(""),
                )
            ),
        )
        .select("doc_id", "text", "dl")
    )
    ingest_dir = os.path.join(idx_dir, "ingest")
    docs.write.mode("overwrite").parquet(ingest_dir)
    # drop ONLY the assign_doc_ids persists: the r3 clearCache() here also
    # evicted the suite-level exact-scorer caches (p/dl/tdf), which was the
    # whole of the r3 `postings` 0.24→0.63 s "drift" (interleaved A/B in
    # BENCH.md r4: cached 0.18 s vs evicted 0.64 s, same code)
    from es_loaders_spark.build import release_doc_id_caches

    release_doc_id_caches()
    # align_shards: shards are carved from the ingest scan splits in-task
    # (chunked sub-shards), so the corpus text NEVER enters a shuffle —
    # the 100-TB ingest path. Measured ≥ classic locally (A/B 400k pages:
    # 20.8/21.1 s vs 21.5/26.0 s) and removes the cluster-wide text
    # exchange entirely at scale. Rank-identity vs classic is pytest-
    # asserted (test_build_merge.py).
    return build_index(
        spark, spark.read.parquet(ingest_dir), idx_dir, n_shards=n_shards,
        positions=positions, align_shards=True,
    )


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)
    # big enough that fixed job latency doesn't dominate the docs/sec
    # headline (throughput roughly doubles from 20k to 60k pages)
    n_pages = int(os.environ.get("SPARK_GRAFT_BENCH_PAGES", "60000"))
    n_samples = int(os.environ.get("SPARK_GRAFT_BENCH_SAMPLES", "2"))
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0

    from pyspark.sql import functions as F

    from es_loaders_spark.bm25 import bm25_topk
    from es_loaders_spark.build import build_index
    from es_loaders_spark.postings import corpus_stats, doc_lengths, postings_long, term_df
    from es_loaders_spark.queries import EXTRA_QUERIES, QUERIES
    from es_loaders_spark.session import get_spark
    from es_loaders_spark.wand import topk, topk_batch, warm_index

    spark = get_spark("bench", cores=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    samples: dict[str, list[float]] = defaultdict(list)

    bm25_queries = [
        "spark index crawl data",
        "the fast query merge",
        "w0500 w0123 batch window",
        "hash join group filter",
        "page web the scan",
    ]
    batch = {f"q{i}": bm25_queries[i % len(bm25_queries)] + f" w{i:04d}" for i in range(50)}
    suite = [
        "groupby_sum_q1",
        "histogram2d_mode",
        "join_broadcast_dim",
        "postings",
        "quality_score",
        "dedup_exact_groups",
        "minhash_lsh_dups",        # portable md5 variant (oracle twin; r01/r02-comparable)
        "minhash_lsh_dups_fast",   # xxhash64 production path (the 100-TB number)
        "ann_bruteforce",
        "ann_ivf",                 # TRAINED quantizer (r5: training + probe)
        "dsl_query_string",        # boolean-tree engine (r5 third wave)
        "dsl_pipeline_aggs",       # bucket-frame window pipelines (r5)
        "dsl_percolate",           # 20k stored queries, one codegen pass (r5)
    ]

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n_docs = docs.count()

    idx_dir = None
    tmp_dirs: list[str] = []
    # one exact-scorer input set, cached once (warm across passes — min
    # measures the warm structure, which is what the comparator tracks)
    p = postings_long(docs).cache()
    dl = doc_lengths(docs).cache()
    p.count(), dl.count()
    tdf = term_df(p).cache()
    stats = corpus_stats(dl)

    # untimed warmup: one small build exercises every codepath (codegen
    # compile, Arrow init, shuffle services) so the timed samples measure
    # steady-state throughput, not first-JVM JIT (isolated A/B: first
    # build in a JVM 24.1 s, second 12.0 s on identical 60k-page input)
    wd = tempfile.mkdtemp(prefix="bench_warm_")
    shutil.rmtree(wd, ignore_errors=True)
    build_pipeline(spark, 3000, wd, n_shards=cpus)
    shutil.rmtree(wd, ignore_errors=True)

    for _ in range(n_samples):
        # --- headline: full build pipeline on the synthesized web corpus ---
        d = tempfile.mkdtemp(prefix="bench_idx_")
        shutil.rmtree(d, ignore_errors=True)
        tmp_dirs.append(d)
        t0 = time.time()
        build_pipeline(spark, n_pages, d, n_shards=max(cpus, n_pages // 3000))
        samples["index_build_web"].append(time.time() - t0)
        idx_dir = d  # queries run against the latest build

        # --- BM25 latency over the web index: single query + batch ---
        # eager warm at commit time (build_index(..., warm=True) path),
        # timed separately so the build headline stays r1-r3-comparable;
        # bm25_wand_cold_first is then the FIRST interactive query after a
        # warmed build — it should match the steady state (VERDICT r03 #8)
        t0 = time.time()
        warm_index(spark, idx_dir)
        samples["index_warm"].append(time.time() - t0)
        t0 = time.time()
        topk(spark, idx_dir, bm25_queries[0], k=20).collect()
        samples["bm25_wand_cold_first"].append(time.time() - t0)
        t0 = time.time()
        for q in bm25_queries:
            topk(spark, idx_dir, q, k=20).collect()
        samples["bm25_wand_single_avg"].append((time.time() - t0) / len(bm25_queries))

        t0 = time.time()
        topk_batch(spark, idx_dir, batch, k=20).collect()
        samples["bm25_wand_batch50_total"].append(time.time() - t0)

        # --- driver documents corpus: BM25-only build + positional build ---
        d2 = tempfile.mkdtemp(prefix="bench_idx2_")
        shutil.rmtree(d2, ignore_errors=True)
        tmp_dirs.append(d2)
        t0 = time.time()
        build_index(spark, docs, d2, n_shards=max(8, cpus), positions=False)
        samples["index_build_documents"].append(time.time() - t0)

        d3 = tempfile.mkdtemp(prefix="bench_idx3_")
        shutil.rmtree(d3, ignore_errors=True)
        tmp_dirs.append(d3)
        t0 = time.time()
        build_index(spark, docs, d3, n_shards=max(8, cpus), positions=True)
        samples["index_build_documents_positional"].append(time.time() - t0)

        # --- routed search (r6c): ES ?routing= — the routed query opens
        # ONE shard's posting files instead of all of them (global
        # scores). Same warmed index, interleaved with the unrouted twin.
        d4 = tempfile.mkdtemp(prefix="bench_idx4_")
        shutil.rmtree(d4, ignore_errors=True)
        tmp_dirs.append(d4)
        build_index(spark, docs, d4, n_shards=max(8, cpus),
                    positions=False, routing_field="source")
        warm_index(spark, d4)
        # untimed warmup of BOTH paths first — the first query on a fresh
        # index pays one-time costs that would otherwise load onto
        # whichever timed row runs first (bench/routed_stretch.py applies
        # the same discipline; review r6c)
        topk(spark, d4, bm25_queries[0], k=20).collect()
        topk(spark, d4, bm25_queries[0], k=20, routing="src1").collect()
        t0 = time.time()
        topk(spark, d4, bm25_queries[0], k=20).collect()
        samples["bm25_routed_unrouted_single"].append(time.time() - t0)
        t0 = time.time()
        topk(spark, d4, bm25_queries[0], k=20, routing="src1").collect()
        samples["bm25_routed_single"].append(time.time() - t0)

        # --- exact join scorer (rank-identity baseline path) ---
        t0 = time.time()
        for q in bm25_queries:
            bm25_topk(spark, p, dl, tdf, stats, q, k=20).collect()
        samples["bm25_exact_topk_avg"].append((time.time() - t0) / len(bm25_queries))

        # --- query_string served from the positional index (r5): the
        # boolean-tree engine's scale path — term/phrase/prefix leaves
        # decode only their posting blocks instead of re-tokenizing the
        # corpus (the dsl_query_string suite item below is the scan twin)
        from es_loaders_spark import dsl as _dsl

        qs_body = {
            "query": {"query_string": {
                "query": '(spark OR "key order")^2 AND batch* -lang:zh '
                         'source:src3^1.5 n_chars:[120 TO 400]',
                "serve": "index"}},  # forced: r1-r5-comparable row
            "size": 15,
        }
        t0 = time.time()
        _dsl.search(spark, docs, qs_body, index_dir=d3).collect()
        samples["dsl_query_string_indexed"].append(time.time() - t0)

        # auto-crossover (r6): same body, serve unset — the engine picks
        # the side from stats.json N. documents sits below the knee →
        # auto ≈ the scan row; the web rows below sit above it → auto ≈
        # the indexed side. Both recorded so the pick is visible.
        qs_auto = {"query": {"query_string": {
            "query": qs_body["query"]["query_string"]["query"]}}, "size": 15}
        t0 = time.time()
        _dsl.search(spark, docs, qs_auto, index_dir=d3).collect()
        samples["dsl_query_string_auto"].append(time.time() - t0)

        # web-scale boolean tree over the n_pages corpus (text-only
        # leaves: the web index is BM25-only, no positions): the ingest
        # table the build materialized is the docs side
        web_docs = spark.read.parquet(os.path.join(idx_dir, "ingest"))
        wq = "spark AND (crawl* OR index) page web"
        for mode in ("auto", "scan"):
            t0 = time.time()
            _dsl.search(
                spark, web_docs,
                {"query": {"query_string": {"query": wq, "serve": mode}},
                 "size": 15},
                index_dir=idx_dir,
            ).collect()
            samples[f"dsl_query_string_web_{mode}"].append(time.time() - t0)

        # --- representative operator suite (SURVEY §2 + pipeline ops) ---
        for name in suite:
            # the bench suite is rotation-stable: retired driver-gate
            # twins keep running here from the EXTRA registry
            fn = QUERIES.get(name) or EXTRA_QUERIES[name]
            t0 = time.time()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            samples[name].append(time.time() - t0)

        # --- incremental dedup: append a 10% batch against the store vs
        # the full-recompute pipeline (minhash_lsh_dups_fast above) — the
        # continuous-ingest shape (r5 dedup_store). Store build is timed
        # separately (one-time cost); the append is the recurring one.
        from es_loaders_spark.dedup_store import (
            append_dedup_store, build_dedup_store,
        )

        sd = tempfile.mkdtemp(prefix="bench_dstore_")
        shutil.rmtree(sd, ignore_errors=True)
        tmp_dirs.append(sd)
        cut = int(n_docs * 0.9)
        t0 = time.time()
        build_dedup_store(
            spark, docs.filter(F.col("doc_id") < cut), sd, threshold=0.9)
        samples["dedup_store_build"].append(time.time() - t0)
        t0 = time.time()
        append_dedup_store(
            spark, docs.filter(F.col("doc_id") >= cut), sd
        ).write.format("noop").mode("overwrite").save()
        samples["dedup_incremental_append"].append(time.time() - t0)

        # generation-flatness probe (r6 bucket-partitioned store): tiny
        # appends at gen2 vs gen5 on the SAME store — with the pruned
        # bk_gen* lookup the recurring cost must stay flat as
        # generations (and stored docs) accumulate, the 100-TB shape
        def _tiny_batch(base_id: int):
            return spark.range(base_id, base_id + 200).select(
                F.col("id").alias("doc_id"),
                F.concat_ws(
                    " ",
                    F.lit("probe batch text"),
                    *[
                        F.concat(F.lit(f"g{i}w"), (F.col("id") * (i + 7) % 997))
                        for i in range(30)
                    ],
                ).alias("text"),
            )

        t0 = time.time()
        append_dedup_store(spark, _tiny_batch(n_docs), sd).write.format(
            "noop").mode("overwrite").save()
        samples["dedup_append_tiny_gen2"].append(time.time() - t0)
        for j in (1, 2):
            append_dedup_store(spark, _tiny_batch(n_docs + 200 * j), sd)
        t0 = time.time()
        append_dedup_store(spark, _tiny_batch(n_docs + 600), sd).write.format(
            "noop").mode("overwrite").save()
        samples["dedup_append_tiny_gen5"].append(time.time() - t0)
        shutil.rmtree(sd, ignore_errors=True)

        # keep only the latest web index for the next pass's queries;
        # release dead indexes' serving caches with their directories
        from es_loaders_spark.wand import evict_index

        for old in tmp_dirs[:-3]:
            evict_index(old)
            shutil.rmtree(old, ignore_errors=True)

    timings = {k: round(min(v), 4) for k, v in samples.items()}
    timings["bm25_wand_batch50_avg"] = round(timings["bm25_wand_batch50_total"] / 50, 4)
    docs_per_sec = round(n_pages / timings["index_build_web"], 2)

    for d in tmp_dirs:
        shutil.rmtree(d, ignore_errors=True)
    result = {
        "metric": "index-build throughput (docs/sec) + BM25 top-k latency",
        "value": docs_per_sec,
        "unit": "docs/sec",
        "queries": timings,
        "sf": sf,
        "n_pages": n_pages,
        "n_docs": n_docs,
        "cpus": cpus,
        "samples": n_samples,
    }
    print(json.dumps(result))


if __name__ == "__main__":
    main()
