"""spark-submit entry points.

Cluster deployment (north_star): zip the package and submit —

    cd /root/repo && zip -r es_loaders_spark.zip es_loaders_spark
    spark-submit --py-files es_loaders_spark.zip \
        -m es_loaders_spark.cli build --input s3://bucket/web_pages \
        --index-dir s3://bucket/index --shards 4096

Local smoke: ``python -m es_loaders_spark.cli demo``.

Replaces the reference's click CLIs (mira_cli.py / alhena_cli.py): the
--reload delete-then-rebuild flag becomes manifest-driven resume (the
default), and the ES host/port plumbing disappears.
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(prog="es_loaders_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    b = sub.add_parser("build", help="build the sharded compressed index")
    b.add_argument("--input", required=True, help="parquet dir of (doc_id, text[, dl])")
    b.add_argument("--index-dir", required=True)
    b.add_argument("--shards", type=int, default=64)
    b.add_argument("--no-resume", action="store_true")
    b.add_argument(
        "--analysis", default=None,
        help='analysis-chain JSON, e.g. \'{"stopwords": "_english_", '
             '"stemmer": "minimal_english"}\' (ES custom analyzer)',
    )
    b.add_argument(
        "--no-positions", action="store_true",
        help="BM25-only index: skip positional payloads (phrase queries unavailable)",
    )
    b.add_argument(
        "--align-shards", action="store_true",
        help="zero-shuffle build: shards carved from input scan splits "
        "in-task (corpus text never shuffles; --shards ignored)",
    )
    b.add_argument(
        "--routing-field", default=None,
        help="ES document routing: shard docs by hash(column) so routed "
             "queries prune to one shard (query --routing)",
    )

    a = sub.add_parser("append", help="append a new document generation")
    a.add_argument("--input", required=True, help="parquet dir of (doc_id, text)")
    a.add_argument("--index-dir", required=True)

    m = sub.add_parser("merge", help="global salted posting merge")
    m.add_argument("--index-dir", required=True)
    m.add_argument("--salts", type=int, default=16)
    m.add_argument("--buckets", type=int, default=32)

    q = sub.add_parser("query", help="BM25 top-k over the index")
    q.add_argument("--index-dir", required=True,
                   help="index dir, or an alias when --alias-registry is given")
    q.add_argument("--alias-registry", default=None,
                   help="dir holding aliases.json; --index-dir then resolves "
                        "aliases (see `aliases` subcommand)")
    q.add_argument("--query", action="append", required=True, help="repeatable")
    q.add_argument("-k", type=int, default=10)
    q.add_argument("--routing", action="append", default=None,
                   help="ES ?routing=: prune to this routing key's shard "
                        "(repeatable; needs a --routing-field build)")

    st = sub.add_parser("stats", help="index metadata (ES _cat/indices style)")
    st.add_argument("--index-dir", required=True)

    al = sub.add_parser("aliases", help="atomic alias cutover (ES _aliases)")
    al.add_argument("--registry", required=True)
    al.add_argument("--actions", required=True,
                    help='JSON list, e.g. \'[{"add": {"alias": "live", '
                         '"index": "/idx/v2"}}]\'')

    p = sub.add_parser("phrase", help="positional phrase query over the index")
    p.add_argument("--index-dir", required=True)
    p.add_argument("--phrase", required=True)

    dl = sub.add_parser(
        "delete-term",
        help="tombstone every doc containing a term (ES delete_by_query analogue)",
    )
    dl.add_argument("--index-dir", required=True)
    dl.add_argument("--term", required=True)

    dq = sub.add_parser(
        "delete-by-query",
        help="ES delete_by_query with a verbatim Query-DSL JSON body",
    )
    dq.add_argument("--index-dir", required=True)
    dq.add_argument("--body", required=True, help="Query-DSL JSON string")
    dq.add_argument(
        "--docs", help="parquet dir of the documents table (for non-text filters)"
    )

    c = sub.add_parser("compact", help="physically drop tombstoned docs")
    c.add_argument("--index-dir", required=True)

    mg = sub.add_parser(
        "merge-gens", help="tiered merge: collapse appended generations"
    )
    mg.add_argument("--index-dir", required=True)
    mg.add_argument("--min-generations", type=int, default=3)

    sn = sub.add_parser(
        "snapshots", help="list the Iceberg-style snapshot log of an index table"
    )
    sn.add_argument("--index-dir", required=True)
    sn.add_argument("--table", default="shards")
    sn.add_argument(
        "--expire-keep", type=int, default=None,
        help="expire all but the newest N snapshots before listing",
    )

    ri = sub.add_parser(
        "reindex",
        help="rebuild into a fresh dir with changed settings (ES _reindex "
             "— the way to switch an analyzer; source tombstones applied)",
    )
    ri.add_argument("--input", required=True, help="parquet dir of (doc_id, text)")
    ri.add_argument("--src-index-dir", required=True)
    ri.add_argument("--dst-index-dir", required=True)
    ri.add_argument("--shards", type=int, default=None)
    ri.add_argument(
        "--analysis", default=None,
        help="new analysis-chain JSON; omit to inherit the source's, "
             "pass 'null' to strip it",
    )

    d = sub.add_parser("demo", help="synthesize a corpus, build, query (smoke)")
    d.add_argument("--pages", type=int, default=5000)
    d.add_argument("--index-dir", default="/tmp/es_loaders_spark_demo")

    args = ap.parse_args(argv)

    if args.cmd == "stats":  # pure metadata — no Spark session needed
        from .catalog import index_stats

        print(json.dumps(index_stats(args.index_dir)))
        return

    if args.cmd == "aliases":  # pure metadata — no Spark session needed
        from .aliases import update_aliases

        out = update_aliases(args.registry, json.loads(args.actions))
        print(json.dumps({"aliases": out}))
        return

    if args.cmd == "snapshots":  # pure metadata — no Spark session needed
        from .catalog import ManifestCatalog

        cat = ManifestCatalog(args.index_dir)
        expired = (
            cat.expire_snapshots(args.table, keep_last=args.expire_keep)
            if args.expire_keep is not None
            else 0
        )
        print(json.dumps({"table": args.table, "expired": expired,
                          "snapshots": cat.snapshots(args.table)}))
        return

    from .session import get_spark

    spark = get_spark(f"es-loaders-spark-{args.cmd}")
    spark.sparkContext.setLogLevel("WARN")

    if args.cmd == "build":
        from .build import build_index

        stats = build_index(
            spark,
            spark.read.parquet(args.input),
            args.index_dir,
            n_shards=args.shards,
            resume=not args.no_resume,
            positions=not args.no_positions,
            align_shards=args.align_shards,
            analysis=json.loads(args.analysis) if args.analysis else None,
            routing_field=args.routing_field,
        )
        print(json.dumps({"built": args.index_dir, **stats}))
    elif args.cmd == "reindex":
        from .build import reindex

        stats = reindex(
            spark,
            spark.read.parquet(args.input),
            args.src_index_dir,
            args.dst_index_dir,
            n_shards=args.shards,
            analysis=(... if args.analysis is None
                      else json.loads(args.analysis)),
        )
        print(json.dumps({"reindexed": args.dst_index_dir, **stats}))
    elif args.cmd == "append":
        from .build import append_documents

        stats = append_documents(
            spark, spark.read.parquet(args.input), args.index_dir
        )
        print(json.dumps({"appended": args.index_dir, **stats}))
    elif args.cmd == "merge":
        from .merge import merge_index

        out = merge_index(spark, args.index_dir, n_salts=args.salts, n_buckets=args.buckets)
        print(json.dumps({"merged": out}))
    elif args.cmd == "query":
        from .wand import topk_batch

        index_dir = args.index_dir
        if args.alias_registry:
            from .aliases import resolve_alias

            index_dir = resolve_alias(args.alias_registry, args.index_dir)
        batch = {f"q{i}": text for i, text in enumerate(args.query)}
        order = {qid: i for i, qid in enumerate(batch)}
        rows = topk_batch(
            spark, index_dir, batch, k=args.k, routing=args.routing
        ).collect()
        for r in sorted(rows, key=lambda r: (order[r["query_id"]], r["rank"])):
            hit = {"query": batch[r["query_id"]], "rank": r["rank"],
                   "doc_id": r["doc_id"], "score": r["score"]}
            if args.routing:
                hit["routing"] = args.routing
            print(json.dumps(hit))
    elif args.cmd == "phrase":
        from .phrase import phrase_docs

        ids = sorted(r["doc_id"] for r in phrase_docs(spark, args.index_dir, args.phrase).collect())
        print(json.dumps({"phrase": args.phrase, "n": len(ids), "doc_ids": ids[:100]}))
    elif args.cmd == "delete-term":
        from .deletes import delete_by_term

        n = delete_by_term(spark, args.index_dir, args.term)
        print(json.dumps({"deleted_term": args.term, "tombstones_total": n}))
    elif args.cmd == "delete-by-query":
        from .dsl import delete_by_query

        docs = spark.read.parquet(args.docs) if args.docs else None
        n = delete_by_query(
            spark, args.index_dir, json.loads(args.body), docs=docs
        )
        print(json.dumps({"deleted_by_query": True, "tombstones_total": n}))
    elif args.cmd == "compact":
        from .deletes import compact_index

        stats = compact_index(spark, args.index_dir)
        print(json.dumps({"compacted": args.index_dir, **stats}))
    elif args.cmd == "merge-gens":
        from .deletes import merge_generations

        stats = merge_generations(
            spark, args.index_dir, min_generations=args.min_generations
        )
        print(json.dumps({"merged": args.index_dir, **stats}))
    elif args.cmd == "demo":
        import shutil

        from pyspark.sql import functions as F

        from .build import assign_doc_ids, build_index
        from .corpus import synthesize_web_pages
        from .extract import extract_text
        from .merge import merge_index
        from .wand import topk

        shutil.rmtree(args.index_dir, ignore_errors=True)
        pages = synthesize_web_pages(spark, args.pages)
        ids = assign_doc_ids(pages.select("url"))
        docs = (
            pages.join(ids, "url")
            .withColumn("text", extract_text(F.col("html")))
            .select("doc_id", "text")
        )
        stats = build_index(spark, docs, args.index_dir, n_shards=16)
        from .build import release_doc_id_caches

        release_doc_id_caches()  # ids are materialized in the index now
        merge_index(spark, args.index_dir, n_salts=4, n_buckets=8)
        print(json.dumps({"stats": stats}))
        for qtext in ("spark index crawl", "the data page"):
            hits = topk(spark, args.index_dir, qtext, k=5).collect()
            print(json.dumps({"query": qtext,
                              "hits": [[r["doc_id"], r["score"]] for r in hits]}))
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1:])
