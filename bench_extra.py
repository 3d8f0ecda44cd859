#!/usr/bin/env python
"""Round-7 optimization profiler (bench.py stays FROZEN; guide §1.4).

Per-stage wall times for the bench's heavy items, each isolated with a
noop sink where a DataFrame is timed:

  build   — the exact build_pipeline stage sequence bench.py runs
            (ids / ingest-write / build_index), plus build_index again
            on the driver documents corpus
  dstore  — dedup-store build + append + tiny-append phases
  exact   — bm25 exact join scorer per query over cached p/dl/tdf
  qs      — query_string scan/indexed rows, noop-isolated

Usage: python bench_extra.py [build|dstore|exact|qs|all] [--samples N]
Prints one JSON line per section.
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

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)
PAGES = int(os.environ.get("SPARK_GRAFT_BENCH_PAGES", "60000"))


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def profile_build(spark, samples: dict) -> None:
    from pyspark.sql import functions as F

    from es_loaders_spark.analyze import SPLIT_RE_JAVA
    from es_loaders_spark.build import (
        assign_doc_ids, build_index, release_doc_id_caches,
    )
    from es_loaders_spark.corpus import synthesize_web_pages
    from es_loaders_spark.extract import with_extracted_text

    d = tempfile.mkdtemp(prefix="bx_idx_")
    shutil.rmtree(d, ignore_errors=True)
    sc = spark.sparkContext

    pages = synthesize_web_pages(spark, PAGES, seed=42)

    sc.setJobDescription("bx: synth noop (one generator pass)")
    t0 = time.time()
    noop(pages)
    samples["b0_synth_noop"].append(time.time() - t0)

    sc.setJobDescription("bx: assign ids")
    t0 = time.time()
    ids = assign_doc_ids(pages.select("url"))
    docs = (
        with_extracted_text(pages.join(F.broadcast(ids), "url"))
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
    samples["b1_plan"].append(time.time() - t0)

    ingest_dir = os.path.join(d, "ingest")
    sc.setJobDescription("bx: ingest write (ids + extract + dl)")
    t0 = time.time()
    docs.write.mode("overwrite").parquet(ingest_dir)
    samples["b2_ingest_write"].append(time.time() - t0)
    release_doc_id_caches()

    sc.setJobDescription("bx: build_index aligned")
    t0 = time.time()
    build_index(
        spark, spark.read.parquet(ingest_dir), d,
        n_shards=max(CPUS, PAGES // 3000), positions=False, align_shards=True,
    )
    samples["b3_build_index"].append(time.time() - t0)
    shutil.rmtree(d, ignore_errors=True)


def profile_dstore(spark, samples: dict) -> None:
    from pyspark.sql import functions as F

    from es_loaders_spark.dedup_store import (
        _signature_relation, append_dedup_store, build_dedup_store,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    n_docs = docs.count()
    cut = int(n_docs * 0.9)
    sc = spark.sparkContext

    sc.setJobDescription("bx: signature relation noop (base 90%)")
    t0 = time.time()
    noop(_signature_relation(
        docs.filter(F.col("doc_id") < cut).select("doc_id", "text"), 3, 32, 8, 42
    ))
    samples["d0_sig_rel_noop"].append(time.time() - t0)

    sd = tempfile.mkdtemp(prefix="bx_dstore_")
    shutil.rmtree(sd, ignore_errors=True)
    sc.setJobDescription("bx: dedup_store build")
    t0 = time.time()
    build_dedup_store(spark, docs.filter(F.col("doc_id") < cut), sd, threshold=0.9)
    samples["d1_store_build"].append(time.time() - t0)

    sc.setJobDescription("bx: dedup_store append 10%")
    t0 = time.time()
    noop(append_dedup_store(spark, docs.filter(F.col("doc_id") >= cut), sd))
    samples["d2_append"].append(time.time() - t0)

    def tiny(base):
        return spark.range(base, base + 200).select(
            F.col("id").alias("doc_id"),
            F.concat_ws(
                " ", F.lit("probe batch text"),
                *[F.concat(F.lit(f"g{i}w"), (F.col("id") * (i + 7) % 997))
                  for i in range(30)],
            ).alias("text"),
        )

    sc.setJobDescription("bx: dedup_store tiny append")
    t0 = time.time()
    noop(append_dedup_store(spark, tiny(n_docs), sd))
    samples["d3_tiny_append"].append(time.time() - t0)
    shutil.rmtree(sd, ignore_errors=True)


def profile_exact(spark, samples: dict, caches: dict) -> None:
    from es_loaders_spark.bm25 import bm25_topk
    from es_loaders_spark.postings import (
        corpus_stats, doc_lengths, postings_long, term_df,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    if not caches:
        caches["p"] = postings_long(docs).cache()
        caches["dl"] = doc_lengths(docs).cache()
        caches["p"].count(), caches["dl"].count()
        caches["tdf"] = term_df(caches["p"]).cache()
        caches["stats"] = corpus_stats(caches["dl"])
    queries = [
        "spark index crawl data", "the fast query merge",
        "w0500 w0123 batch window", "hash join group filter",
        "page web the scan",
    ]
    spark.sparkContext.setJobDescription("bx: exact scorer")
    t0 = time.time()
    for q in queries:
        bm25_topk(
            spark, caches["p"], caches["dl"], caches["tdf"], caches["stats"],
            q, k=20,
        ).collect()
    samples["x0_exact_avg"].append((time.time() - t0) / len(queries))


def profile_minhash(spark, samples: dict) -> None:
    from pyspark.sql import functions as F

    from es_loaders_spark.dedup import (
        hashed_shingle_sets, lsh_verified_pairs, minhash_lsh_pairs,
        minhash_signatures, release_dedup_caches, _lsh_candidates,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    sc = spark.sparkContext

    sc.setJobDescription("bx: hashed shingle sets noop")
    t0 = time.time()
    noop(hashed_shingle_sets(docs))
    samples["m0_hsets_noop"].append(time.time() - t0)

    sc.setJobDescription("bx: xxhash signatures noop")
    t0 = time.time()
    noop(minhash_signatures(docs))
    samples["m1_sig_fast_noop"].append(time.time() - t0)

    sc.setJobDescription("bx: portable signatures noop")
    t0 = time.time()
    noop(minhash_signatures(docs, portable=True))
    samples["m2_sig_portable_noop"].append(time.time() - t0)

    sc.setJobDescription("bx: candidates from persisted sig")
    release_dedup_caches()
    sig = minhash_signatures(docs, portable=True).persist()
    sig.count()
    t0 = time.time()
    noop(_lsh_candidates(sig, 32, 8, portable=True, max_bucket=64))
    samples["m3_candidates_noop"].append(time.time() - t0)
    sig.unpersist()

    sc.setJobDescription("bx: minhash_lsh_dups full (portable)")
    t0 = time.time()
    noop(minhash_lsh_pairs(docs, portable=True).filter(
        F.col("est_jaccard") >= 0.5))
    samples["m4_lsh_portable_full"].append(time.time() - t0)

    sc.setJobDescription("bx: lsh_verified_pairs full (fast)")
    t0 = time.time()
    noop(lsh_verified_pairs(docs, threshold=0.9))
    samples["m5_lsh_fast_full"].append(time.time() - t0)
    release_dedup_caches()


def profile_qs(spark, samples: dict) -> None:
    from es_loaders_spark import dsl

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    q = ('(spark OR "key order")^2 AND batch* -lang:zh '
         'source:src3^1.5 n_chars:[120 TO 400]')
    spark.sparkContext.setJobDescription("bx: query_string scan")
    t0 = time.time()
    dsl.search(spark, docs, {
        "query": {"query_string": {"query": q, "serve": "scan"}}, "size": 15,
    }).collect()
    samples["q0_qs_scan"].append(time.time() - t0)


def main() -> None:
    which = sys.argv[1] if len(sys.argv) > 1 else "all"
    n = 2
    if "--samples" in sys.argv:
        n = int(sys.argv[sys.argv.index("--samples") + 1])

    from es_loaders_spark.session import get_spark

    spark = get_spark("bench-extra", cores=CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    samples: dict[str, list[float]] = defaultdict(list)
    caches: dict = {}
    for _ in range(n):
        if which in ("build", "all"):
            profile_build(spark, samples)
        if which in ("dstore", "all"):
            profile_dstore(spark, samples)
        if which in ("exact", "all"):
            profile_exact(spark, samples, caches)
        if which in ("minhash", "all"):
            profile_minhash(spark, samples)
        if which in ("qs", "all"):
            profile_qs(spark, samples)
    print(json.dumps(
        {k: [round(x, 3) for x in v] for k, v in samples.items()}
    ))


if __name__ == "__main__":
    main()
