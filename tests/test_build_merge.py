"""Index build + merge: parity with single-shot postings, salting, resume."""

from __future__ import annotations

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from es_loaders_spark.build import assign_doc_ids, build_index
from es_loaders_spark.catalog import ManifestCatalog
from es_loaders_spark.merge import merge_index, merged_postings
from es_loaders_spark.postings import postings_long
from es_loaders_spark.wand import topk


@pytest.fixture(scope="module")
def index_dir(spark, documents, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("index"))
    build_index(spark, documents, d, n_shards=4)
    merge_index(spark, d, hot_df_threshold=50, n_salts=4, n_buckets=8)
    return d


def test_build_stats_and_lineage(spark, documents, index_dir):
    with open(os.path.join(index_dir, "stats.json")) as f:
        stats = json.load(f)
    assert stats["n_docs"] == documents.count()
    cat = ManifestCatalog(index_dir)
    assert cat.committed_partitions("doclens") == {0, 1, 2, 3}
    assert cat.committed_partitions("shards") == {0, 1, 2, 3}
    m = cat.load("shards")
    assert all(e["terms"] > 0 and e["bytes"] > 0 for e in m.partitions)


def test_sharded_postings_match_single_shot(spark, documents, index_dir):
    """Decoded shard-local postings == postings built in one shot (SURVEY §5.3)."""
    want = {
        (r["term"], r["doc_id"]): r["tf"]
        for r in postings_long(documents).collect()
    }
    from es_loaders_spark.codec import decode_block
    got = {}
    for row in spark.read.parquet(os.path.join(index_dir, "shards")).collect():
        d, t = decode_block(row.asDict())
        for doc, tf in zip(d, t):
            got[(row["term"], int(doc))] = int(tf)
    assert got == want


def test_merged_equals_single_shot(spark, documents, index_dir):
    terms = ["the", "spark", "data", "w0005"]
    got = {
        (r["term"], r["doc_id"]): r["tf"]
        for r in merged_postings(spark, index_dir, terms).collect()
    }
    want = {
        (r["term"], r["doc_id"]): r["tf"]
        for r in postings_long(documents).filter(F.col("term").isin(terms)).collect()
    }
    assert got == want


def test_salted_equals_unsalted(spark, documents, tmp_path_factory):
    d1 = str(tmp_path_factory.mktemp("idx_salted"))
    d2 = str(tmp_path_factory.mktemp("idx_unsalted"))
    for d in (d1, d2):
        build_index(spark, documents, d, n_shards=2)
    merge_index(spark, d1, hot_df_threshold=20, n_salts=4, n_buckets=4)   # salts many terms
    merge_index(spark, d2, hot_df_threshold=10**9, n_salts=4, n_buckets=4)  # salts none
    terms = ["the", "of", "query", "w0010"]
    a = {
        (r["term"], r["doc_id"]): r["tf"]
        for r in merged_postings(spark, d1, terms).collect()
    }
    b = {
        (r["term"], r["doc_id"]): r["tf"]
        for r in merged_postings(spark, d2, terms).collect()
    }
    assert a == b
    # salting actually produced multiple salt groups for the hot term
    hot_salts = (
        spark.read.parquet(os.path.join(d1, "merged"))
        .filter(F.col("term") == "the")
        .select("salt")
        .distinct()
        .count()
    )
    assert hot_salts > 1


def test_build_resume_skips_committed_and_rebuilds_missing(spark, documents, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("idx_resume"))
    build_index(spark, documents, d, n_shards=4)
    full = {
        (r["term"], r["doc_id"])
        for r in merged_postings_all(spark, d)
    }
    # simulate a crash that lost shard 2: drop its files + manifest entry
    cat = ManifestCatalog(d)
    m = cat.load("shards")
    m.partitions = [e for e in m.partitions if e["partition_id"] != 2]
    import tempfile, json as js
    with open(os.path.join(d, "shards", "_manifest.json"), "w") as f:
        js.dump(
            {"table": m.table, "partitions": m.partitions, "props": m.props,
             "version": m.version},
            f,
        )
    shutil.rmtree(os.path.join(d, "shards", "shard=2"))
    build_index(spark, documents, d, n_shards=4)  # resume
    after = {(r["term"], r["doc_id"]) for r in merged_postings_all(spark, d)}
    assert after == full
    assert cat.committed_partitions("shards") == {0, 1, 2, 3}


def merged_postings_all(spark, index_dir):
    """Decode ALL shard postings (test helper)."""
    import numpy as np
    import pandas as pd

    from es_loaders_spark.codec import decode_block

    def decode(batches):
        for pdf in batches:
            ts, ds = [], []
            for _, row in pdf.iterrows():
                dd, _ = decode_block(row)
                ts.extend([row["term"]] * dd.size)
                ds.append(dd)
            if ds:
                yield pd.DataFrame({"term": ts, "doc_id": np.concatenate(ds)})

    return (
        spark.read.parquet(os.path.join(index_dir, "shards"))
        .mapInPandas(decode, "term string, doc_id long")
        .collect()
    )


def test_merge_resume_mid_merge(spark, documents, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("idx_merge_resume"))
    build_index(spark, documents, d, n_shards=2)
    merge_index(spark, d, hot_df_threshold=50, n_salts=4, n_buckets=8)
    terms = ["the", "spark", "w0020"]
    full = {
        (r["term"], r["doc_id"]): r["tf"]
        for r in merged_postings(spark, d, terms).collect()
    }
    # crash: drop two committed buckets
    cat = ManifestCatalog(d)
    m = cat.load("merged")
    lost = {1, 5}
    m.partitions = [e for e in m.partitions if e["partition_id"] not in lost]
    import json as js
    with open(os.path.join(d, "merged", "_manifest.json"), "w") as f:
        js.dump({"table": m.table, "partitions": m.partitions, "props": m.props,
                 "version": m.version}, f)
    for b in lost:
        shutil.rmtree(os.path.join(d, "merged", f"bucket={b}"), ignore_errors=True)
    merge_index(spark, d, hot_df_threshold=50, n_salts=4, n_buckets=8)  # resume
    after = {
        (r["term"], r["doc_id"]): r["tf"]
        for r in merged_postings(spark, d, terms).collect()
    }
    assert after == full
    assert cat.committed_partitions("merged") == set(range(8))


def test_assign_doc_ids_deterministic(spark, web_pages):
    a = {r["url"]: r["doc_id"] for r in assign_doc_ids(web_pages).select("url", "doc_id").collect()}
    b = {
        r["url"]: r["doc_id"]
        for r in assign_doc_ids(web_pages.repartition(13)).select("url", "doc_id").collect()
    }
    assert a == b
    assert sorted(a.values()) == list(range(len(a)))
    urls_sorted = sorted(a)
    assert [a[u] for u in urls_sorted] == list(range(len(a)))


def test_assign_doc_ids_keeps_a_caller_cache(spark):
    """A caller's own persist of the input is used, not dropped."""
    from pyspark import StorageLevel

    from es_loaders_spark.build import release_doc_id_caches

    urls = spark.createDataFrame(
        [(f"u{i:03d}",) for i in range(50)], "url string"
    ).persist()
    urls.count()
    out = assign_doc_ids(urls)
    assert sorted(r["doc_id"] for r in out.collect()) == list(range(50))
    assert urls.storageLevel != StorageLevel.NONE
    release_doc_id_caches(out)
    urls.unpersist()


def test_assign_doc_ids_releases_its_persists_on_failure(spark):
    from pyspark import StorageLevel

    from es_loaders_spark.build import _ID_PERSISTS

    boom = F.udf(lambda u: str(1 // 0), "string")
    urls = spark.createDataFrame(
        [(f"u{i:03d}",) for i in range(20)], "url string"
    ).select(boom("url").alias("url"))
    n_before = len(_ID_PERSISTS)
    with pytest.raises(Exception, match="ZeroDivisionError"):
        assign_doc_ids(urls)
    assert urls.storageLevel == StorageLevel.NONE
    assert len(_ID_PERSISTS) == n_before


def test_append_documents_matches_one_shot(spark, documents, tmp_path_factory):
    """Segment append: base index + appended generation == one-shot index
    over the union — same top-k docIDs AND scores (Lucene-segment parity,
    SURVEY W6). Exercises query-time (max_tf, min_dl) bounds under the
    shifted avgdl."""
    from es_loaders_spark.build import append_documents, generation_dirs
    from es_loaders_spark.wand import topk

    base = documents.filter(F.col("doc_id") < 400)
    delta = documents.filter(F.col("doc_id") >= 400)

    d_inc = str(tmp_path_factory.mktemp("idx_incremental"))
    build_index(spark, base, d_inc, n_shards=4)
    stats = append_documents(spark, delta, d_inc)
    assert stats["n_docs"] == documents.count()
    assert stats["generations"] == 2
    assert len(generation_dirs(d_inc, "shards")) == 2

    d_full = str(tmp_path_factory.mktemp("idx_oneshot"))
    build_index(spark, documents, d_full, n_shards=4)

    for q in ["spark query data", "the fast scan", "w0005"]:
        inc = [(r["doc_id"], r["score"]) for r in topk(spark, d_inc, q, k=15).collect()]
        full = [(r["doc_id"], r["score"]) for r in topk(spark, d_full, q, k=15).collect()]
        assert inc == full, f"append differs from one-shot for {q!r}"

    # appending overlapping doc_ids is rejected (append-only contract)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="must exceed"):
        append_documents(spark, documents.filter(F.col("doc_id") < 10), d_inc)

    # merge compacts generations: merged postings == one-shot merged
    merge_index(spark, d_inc, hot_df_threshold=50, n_salts=4, n_buckets=8)
    merge_index(spark, d_full, hot_df_threshold=50, n_salts=4, n_buckets=8)
    a = {
        (r["term"], r["doc_id"]): r["tf"]
        for r in merged_postings(spark, d_inc, ["the", "spark"]).collect()
    }
    b = {
        (r["term"], r["doc_id"]): r["tf"]
        for r in merged_postings(spark, d_full, ["the", "spark"]).collect()
    }
    assert a == b


def test_append_batch_tag_idempotent(spark, documents, tmp_path_factory):
    """A replayed micro-batch (same batch_tag) is a no-op: no duplicate
    generation, stats unchanged (ADVICE r01 exactly-once fix)."""
    from es_loaders_spark.build import append_documents, generation_dirs

    base = documents.filter(F.col("doc_id") < 300)
    delta = documents.filter(
        (F.col("doc_id") >= 300) & (F.col("doc_id") < 400)
    )
    d = str(tmp_path_factory.mktemp("idx_batchtag"))
    build_index(spark, base, d, n_shards=2, batch_tag="batch-0")
    s1 = append_documents(spark, delta, d, batch_tag="batch-1")
    # replay the same batch: must not raise (overlapping ids) nor duplicate
    s2 = append_documents(spark, delta, d, batch_tag="batch-1")
    assert s1 == s2
    assert s2["generations"] == 2
    assert len(generation_dirs(d, "shards")) == 2
    assert s2["applied_batches"] == ["batch-0", "batch-1"]
    # replaying the initial build batch is also a no-op
    s3 = build_index(spark, base, d, n_shards=2, batch_tag="batch-0")
    assert s3 == s2


def test_stats_json_written_last(spark, documents, tmp_path_factory):
    """stats.json existence marks a COMPLETE build: a build that dies
    before finishing leaves no stats.json (atomic visibility)."""
    import json as _json

    d = str(tmp_path_factory.mktemp("idx_atomic"))
    build_index(spark, documents.filter(F.col("doc_id") < 100), d, n_shards=2)
    p = os.path.join(d, "stats.json")
    assert os.path.exists(p)
    with open(p) as f:
        s = _json.load(f)
    assert s["n_docs"] == 100
    # no leftover tmp files from the atomic write
    assert not [n for n in os.listdir(d) if n.endswith(".tmp")]


def test_format_version_guard(spark, documents, tmp_path_factory):
    """Pre-marker (format-1) indexes must fail loudly, not silently
    mis-decode (ADVICE r02: a format-1 docs_payload always starts 0x00 =
    the varint marker, so the first posting of every block would drop)."""
    import pytest as _pytest

    from es_loaders_spark.build import load_stats

    d = str(tmp_path_factory.mktemp("fmt_guard"))
    build_index(spark, documents.limit(20), d, n_shards=2)
    p = os.path.join(d, "stats.json")
    with open(p) as f:
        stats = json.load(f)
    assert stats["format"] == 2
    del stats["format"]  # simulate a pre-marker index
    with open(p, "w") as f:
        json.dump(stats, f)
    with _pytest.raises(ValueError, match="[Rr]ebuild"):
        load_stats(d)
    with _pytest.raises(ValueError, match="format"):
        topk(spark, d, "data", k=3).collect()


def test_positions_optout_bm25_identical_phrase_raises(
    spark, documents, tmp_path_factory
):
    """positions=False builds a BM25-only index: identical top-k, empty
    pos payloads, clear error on phrase queries (VERDICT r02 #2a)."""
    import pytest as _pytest

    from es_loaders_spark.phrase import phrase_docs

    docs = documents.limit(200)
    d_pos = str(tmp_path_factory.mktemp("with_pos"))
    d_nopos = str(tmp_path_factory.mktemp("no_pos"))
    build_index(spark, docs, d_pos, n_shards=4)
    build_index(spark, docs, d_nopos, n_shards=4, positions=False)

    pos_bytes = (
        spark.read.parquet(os.path.join(d_nopos, "shards"))
        .agg(F.sum(F.length("pos_payload")).alias("b"))
        .collect()[0]["b"]
    )
    assert pos_bytes == 0

    for q in ["spark query data", "the fast scan"]:
        a = [(r["doc_id"], r["score"]) for r in topk(spark, d_pos, q, k=10).collect()]
        b = [(r["doc_id"], r["score"]) for r in topk(spark, d_nopos, q, k=10).collect()]
        assert a == b, q

    with _pytest.raises(Exception, match="positions"):
        phrase_docs(spark, d_nopos, "the data").collect()

    # appends inherit the flag from stats.json
    from es_loaders_spark.build import append_documents, load_stats

    assert load_stats(d_nopos)["positions"] is False
    delta = documents.filter(F.col("doc_id") >= 200).limit(20)
    append_documents(spark, delta, d_nopos)
    pos_bytes2 = (
        spark.read.parquet(os.path.join(d_nopos, "shards_gen1"))
        .agg(F.sum(F.length("pos_payload")).alias("b"))
        .collect()[0]["b"]
    )
    assert pos_bytes2 == 0


def test_align_shards_build_matches_classic(spark, documents, tmp_path_factory):
    """align_shards=True (shard = input split, ZERO corpus shuffle) must be
    rank-identical to the classic hash-sharded build, produce the same
    corpus stats, and plan with no Exchange before the posting kernel."""
    import pandas as pd
    from pyspark.sql import functions as F

    import es_loaders_spark.build as B
    from es_loaders_spark.build import build_index
    from es_loaders_spark.wand import topk

    d1 = str(tmp_path_factory.mktemp("cls_idx"))
    d2 = str(tmp_path_factory.mktemp("aln_idx"))
    s1 = build_index(spark, documents, d1, n_shards=4, positions=False)
    s2 = build_index(spark, documents, d2, positions=False, align_shards=True)
    assert (s1["n_docs"], s1["avgdl"]) == (s2["n_docs"], s2["avgdl"])

    for q in ["spark index data", "the scan", "w0042"]:
        a = [(r["doc_id"], r["score"]) for r in topk(spark, d1, q, k=12).collect()]
        b = [(r["doc_id"], r["score"]) for r in topk(spark, d2, q, k=12).collect()]
        assert a == b, q

    # doclens cover every doc exactly once in both layouts
    dl1 = spark.read.parquet(f"{d1}/doclens").agg(F.count("*"), F.sum("dl")).first()
    dl2 = spark.read.parquet(f"{d2}/doclens").agg(F.count("*"), F.sum("dl")).first()
    assert tuple(dl1) == tuple(dl2)

    # the aligned stage plan carries no shuffle
    src = documents.select("doc_id", "text").withColumn(
        "shard", F.spark_partition_id().cast("int")
    )
    kern = B._build_shard_fn(None, positions=False)

    def run(batches):
        pdfs = [x for x in batches if len(x)]
        if pdfs:
            yield kern(pd.concat(pdfs, ignore_index=True))

    plan = (
        src.mapInPandas(run, B.INDEX_SCHEMA)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan


def test_merge_generations_tiered(spark, documents, tmp_path_factory):
    """Tiered generation merge: 3 appended generations collapse into one
    (base untouched), queries are rank-identical before/after, a later
    append lands as gen-2, and tombstones survive the merge."""
    from es_loaders_spark.build import append_documents, generation_dirs
    from es_loaders_spark.deletes import delete_ids, merge_generations
    from es_loaders_spark.wand import topk

    base = documents.filter(F.col("doc_id") < 200)
    deltas = [
        documents.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
        for lo, hi in [(200, 300), (300, 380), (380, 450)]
    ]
    tail = documents.filter(F.col("doc_id") >= 450)

    d = str(tmp_path_factory.mktemp("idx_tiered"))
    build_index(spark, base, d, n_shards=4)
    for delta in deltas:
        append_documents(spark, delta, d)
    # tombstone a doc that lives in an appended generation
    delete_ids(spark, d, spark.range(1).select(F.lit(250).alias("doc_id")))

    queries = ["spark query data", "the fast scan", "w0005"]
    before = {
        q: [(r["doc_id"], r["score"]) for r in topk(spark, d, q, k=15).collect()]
        for q in queries
    }
    s0 = merge_generations(spark, d, min_generations=4)
    assert s0["generations"] == 4  # below threshold: no-op
    stats = merge_generations(spark, d, min_generations=3)
    assert stats["generations"] == 2
    assert len(generation_dirs(d, "shards")) == 2
    assert len(generation_dirs(d, "doclens")) == 2
    after = {
        q: [(r["doc_id"], r["score"]) for r in topk(spark, d, q, k=15).collect()]
        for q in queries
    }
    assert after == before  # rank-identical, tombstone still effective
    assert all(250 not in [doc for doc, _ in hits] for hits in after.values())
    assert stats["n_docs"] == 450  # logical stats unchanged by the merge

    # a later append starts a clean gen-2 (old manifests dropped)
    s2 = append_documents(spark, tail, d)
    assert s2["generations"] == 3
    d_full = str(tmp_path_factory.mktemp("idx_tiered_oneshot"))
    build_index(spark, documents, d_full, n_shards=4)
    for q in queries:
        inc = [(r["doc_id"], r["score"]) for r in topk(spark, d, q, k=15).collect()]
        full = [
            (r["doc_id"], r["score"])
            for r in topk(spark, d_full, q, k=15).collect()
            if r["doc_id"] != 250
        ][: len(inc)]
        # tombstoned doc excluded from the tiered index; scores otherwise equal
        assert [doc for doc, _ in inc] == [doc for doc, _ in full]


def test_merge_generations_sweeps_leftovers_and_clamps(
    spark, documents, tmp_path_factory
):
    """Janitor + clamp: crashed-merge leftovers (*_premerge, *_genmerge_tmp)
    and orphaned higher-gen dirs from an abandoned append are swept; a
    min_generations <= 0 is clamped (no crash, no always-merge on a fresh
    index)."""
    import os

    from es_loaders_spark.build import append_documents
    from es_loaders_spark.deletes import merge_generations
    from es_loaders_spark.wand import topk

    d = str(tmp_path_factory.mktemp("idx_sweep"))
    build_index(spark, documents.filter(F.col("doc_id") < 200), d, n_shards=2)
    # clamp: fresh index (generations=1), min_generations=0 → clean no-op
    s = merge_generations(spark, d, min_generations=0)
    assert s["generations"] == 1
    for lo, hi in [(200, 300), (300, 400)]:
        append_documents(
            spark, documents.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi)), d
        )
    # plant crash debris: an aside leftover, a tmp, and an abandoned gen5
    for name in ("shards_gen1_premerge", "doclens_genmerge_tmp", "shards_gen5"):
        os.makedirs(os.path.join(d, name), exist_ok=True)
    before = [(r["doc_id"], r["score"]) for r in topk(spark, d, "spark data", k=10).collect()]
    s = merge_generations(spark, d, min_generations=2)
    assert s["generations"] == 2
    leftover = [n for n in os.listdir(d) if "premerge" in n or "genmerge_tmp" in n or n == "shards_gen5"]
    assert leftover == []
    after = [(r["doc_id"], r["score"]) for r in topk(spark, d, "spark data", k=10).collect()]
    assert after == before
