"""The benchmark's two workloads and the output checks run after each window.

Both run as one client thread in a closed loop: the next operation starts
when the previous one returned. The window cycles through the workload's
operation mix (a fixed round) for ``seconds`` and at least one whole
round, so every operation type is timed in every run. Outputs are
checked after the window; a wrong output counts as a failed operation.
"""

from __future__ import annotations

import hashlib
import os
import statistics
import sys
import time
import traceback

import numpy as np
import pandas as pd
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from es_loaders_spark import bm25, deletes, dsl, wand
from es_loaders_spark.analyze import SPLIT_RE_JAVA, tokenize_texts
from es_loaders_spark.build import (
    append_documents,
    assign_doc_ids,
    build_index,
    load_stats,
    release_doc_id_caches,
)
from es_loaders_spark.catalog import index_stats
from es_loaders_spark.corpus import generate_pages_pdf, synthesize_web_pages
from es_loaders_spark.extract import with_extracted_text
from es_loaders_spark.postings import corpus_stats, postings_long, term_df

from inputs import K, Inputs, append_seed, marker

# Sized so that both workloads' runs fit the benchmark's time budget on a
# 4-CPU box, where every run pays ~30 s of cold JVM and Python-worker start.
SEARCH_PAGES = 5_000
BUILD_PAGES = 5_000
WARMUP_PAGES = 500
APPEND_PAGES = 1_000
# bm25 runs between every two other operations: its median is a headline
# metric and needs ten or more samples per run to be steady
SEARCH_ROUND = ["bm25", "msearch", "bm25", "query_string", "bm25", "match_filter",
                "bm25", "aggs", "bm25", "count", "bm25"]
BUILD_ROUND = ["build", "append_visible", "bm25", "bm25", "bm25", "bm25",
               "bm25", "bm25", "delete", "merge"]
BM25_CHECKS = 2
QS_CHECKS = 1


_PROBE_DATA = np.random.RandomState(0).rand(200_000)


def probe_ms() -> float:
    """Time of a fixed single-thread CPU task: the host's speed right now.

    It is the benchmark's own code, so no change to the package moves it.
    Timed just before and after every operation, it is the unit of the
    host-normalized latency metrics.
    """
    t0 = time.perf_counter()
    np.sort(_PROBE_DATA)
    total = 0
    for i in range(150_000):
        total += i * i
    return (time.perf_counter() - t0) * 1000.0


class Run:
    """Samples, failures and deferred checks of one workload run."""

    def __init__(self, spark, tracer, inputs: Inputs, work: str):
        self.spark = spark
        self.tracer = tracer
        self.inputs = inputs
        self.work = work
        self.samples: dict[str, list[float]] = {}
        self.traced: dict[str, list[float]] = {}
        # untraced latencies over the mean of the probes just before and after
        self.in_probes: dict[str, list[float]] = {}
        self.attempted = 0
        self.failed = 0
        self.checks: list[dict] = []
        self.facts: dict = {}
        self.probes: list[float] = []

    def op(self, name: str, fn):
        """Time one client operation; an exception counts as a failure.

        A host-speed probe brackets the operation, so each latency is also
        kept in probes, measured at the time it ran.
        """
        self.attempted += 1
        before = probe_ms()
        try:
            with self.tracer.op(name):
                t0 = time.perf_counter()
                out = fn()
                ms = (time.perf_counter() - t0) * 1000.0
        except Exception:
            traceback.print_exc(file=sys.stderr)
            self.failed += 1
            return None
        after = probe_ms()
        self.probes += [before, after]
        if self.tracer.enabled:
            self.traced.setdefault(name, []).append(ms)
        else:
            self.samples.setdefault(name, []).append(ms)
            self.in_probes.setdefault(name, []).append(ms * 2.0 / (before + after))
        return out

    def check(self, name: str, ok: bool, detail=None, counts_as_op=True) -> None:
        self.checks.append({"check": name, "ok": bool(ok), "detail": detail})
        if not ok and counts_as_op:
            self.failed += 1

    def window(self, seconds: float, round_ops: list[str], step, trace_alternate: bool):
        """Runs ``round_ops`` in order, round after round; returns the wall time.

        Untraced, the window ends at the first operation boundary after
        ``seconds`` have passed and at least one whole round ran, so every
        operation type has samples. With ``trace_alternate`` it runs
        exactly two whole rounds and traces every other operation, offset
        by one in the second round: each position of the round is traced
        once and untraced once, so one run yields both sides of the
        tracing overhead and warm-up falls on both sides alike.
        """
        t0 = time.perf_counter()
        n = 0
        while True:
            r, i = divmod(n, len(round_ops))
            if trace_alternate:
                if r == 2:
                    break
                self.tracer.set_enabled((i + r) % 2 == 1)
            elif r >= 1 and time.perf_counter() - t0 >= seconds:
                break
            step(round_ops[i])
            n += 1
        self.tracer.set_enabled(trace_alternate)
        self.facts["rounds"] = n / len(round_ops)
        return time.perf_counter() - t0


# -- the build pipeline, as the package's callers run it ---------------------

def ingest(run: Run, pages: int, seed: int, out_dir: str) -> None:
    """synthesize → doc ids → extract → ingest table (doc_id, text, lang, dl)."""
    spark, tr = run.spark, run.tracer
    with tr.span("corpus.synth"):
        web = synthesize_web_pages(spark, pages, seed=seed)
    with tr.span("build.assign_doc_ids"):
        ids = assign_doc_ids(web.select("url"))
    with tr.span("build.ingest"):
        docs = (
            with_extracted_text(web.join(F.broadcast(ids), "url"))
            .withColumn("dl", F.size(F.filter(
                F.split(F.lower(F.col("text")), SPLIT_RE_JAVA),
                lambda t: t != F.lit(""))))
            .select("doc_id", "text", "lang", "dl")
        )
        docs.write.mode("overwrite").parquet(out_dir)
        release_doc_id_caches()


def build(run: Run, pages: int, seed: int, idx: str) -> dict:
    ingest(run, pages, seed, os.path.join(idx, "ingest"))
    with run.tracer.span("build.build_index"):
        return build_index(
            run.spark, run.spark.read.parquet(os.path.join(idx, "ingest")), idx,
            positions=False, align_shards=True)


def _terms_digest(terms, dfs) -> str:
    h = hashlib.sha1()
    for t, d in sorted(zip(terms, dfs)):
        h.update(f"{t}\t{d}\n".encode())
    return h.hexdigest()[:16]


def fingerprint(idx: str) -> str:
    """n_docs, avgdl and a digest of the term/df table of a built index."""
    st = load_stats(idx)
    terms = pq.read_table(os.path.join(idx, "terms"), columns=["term", "df"])
    digest = _terms_digest(terms["term"].to_pylist(), terms["df"].to_pylist())
    return f"{st['n_docs']}:{float(st['avgdl']):.9f}:{digest}"


def expected_fingerprint(idx: str) -> str:
    """The same fingerprint recounted on the driver from the ingest table."""
    ingest = pq.read_table(os.path.join(idx, "ingest"), columns=["text"])
    offsets, flat = tokenize_texts(ingest["text"].to_pandas())
    doc = np.repeat(np.arange(ingest.num_rows), np.diff(offsets))
    df = pd.DataFrame({"term": flat, "doc": doc}).drop_duplicates().groupby(
        "term").size()
    avgdl = offsets[-1] / ingest.num_rows
    return f"{ingest.num_rows}:{avgdl:.9f}:{_terms_digest(df.index, df.to_numpy())}"


def index_bytes_per_text_byte(idx: str) -> float:
    tables = index_stats(idx)["tables"]
    size = sum(v["bytes"] for k, v in tables.items()
               if k.split("_gen")[0] in ("shards", "doclens", "terms"))
    text = pq.read_table(os.path.join(idx, "ingest"), columns=["text"])["text"]
    return size / pc.sum(pc.binary_length(text)).as_py()


def rows(df) -> list[tuple]:
    return [tuple(r) for r in df.collect()]


# -- search: a read-only mix against a warm index -----------------------------

def driver_ingest(spark, pages: int, seed: int, out_dir: str) -> None:
    """The ingest table (doc_id, text, lang, dl) generated on the driver.

    Same corpus generator and id rule (rank of url) as the build pipeline,
    without its Spark jobs: the search workload's set-up then pays one cold
    build_index, not the cold synthesize/extract/ids pipeline as well.
    """
    pdf = generate_pages_pdf(0, pages, seed).sort_values("url", ignore_index=True)
    offsets, _ = tokenize_texts(pdf["text"])
    spark.createDataFrame(pd.DataFrame({
        "doc_id": np.arange(pages, dtype=np.int64),
        "text": pdf["text"],
        "lang": pdf["lang"],
        "dl": np.diff(offsets).astype(np.int32),
    })).write.mode("overwrite").parquet(out_dir)


def search(run: Run, seconds: float, trace_alternate: bool) -> dict:
    spark, inp = run.spark, run.inputs
    tr = run.tracer
    idx = os.path.join(run.work, "search_idx")
    t0 = time.perf_counter()
    driver_ingest(spark, SEARCH_PAGES, inp.seed, os.path.join(idx, "ingest"))
    docs = spark.read.parquet(os.path.join(idx, "ingest"))
    build_index(spark, docs, idx, positions=False, align_shards=True)
    wand.warm_index(spark, idx)
    outputs: dict[str, list] = {"bm25": [], "query_string": []}

    def step(name: str) -> None:
        if name == "bm25":
            q = inp.bm25_query()

            def fn():
                with tr.span("wand.topk"):
                    return rows(wand.topk(spark, idx, q, k=K))
        elif name == "msearch":
            batch = inp.msearch_batch()

            def fn():
                with tr.span("wand.topk_batch"):
                    return rows(wand.topk_batch(spark, idx, batch, k=K))
        else:
            pool = {"query_string": inp.qs_pool, "match_filter": inp.mf_pool,
                    "aggs": inp.aggs_pool, "count": inp.count_pool}[name]
            body = inp.draw(pool)
            call = dsl.count if name == "count" else dsl.search
            span = "dsl.count" if name == "count" else "dsl.search"

            def fn():
                with tr.span(span):
                    return rows(call(spark, docs, body, index_dir=idx))
        out = run.op(name, fn)
        if out is not None and name in outputs:
            outputs[name].append((q if name == "bm25" else body, out))

    # the first call of these pays 1-4 s of one-time planning and worker
    # start-up (bm25, aggs and count first calls cost under 0.3 s extra)
    for name in ("msearch", "query_string", "match_filter"):
        step(name)
    run.samples.clear()
    run.in_probes.clear()
    run.probes.clear()
    run.attempted = run.failed = 0
    for v in outputs.values():
        v.clear()
    setup = time.perf_counter() - t0

    wall = run.window(seconds, SEARCH_ROUND, step, trace_alternate)
    t1 = time.perf_counter()
    run.facts["index_dir"] = idx
    run.facts["fingerprint"] = fp = fingerprint(idx)
    run.facts["index_bytes_per_text_byte"] = index_bytes_per_text_byte(idx)
    run.facts["ops_per_s"] = sum(len(v) for v in run.samples.values()) / wall
    run.check("build.recount", fp == expected_fingerprint(idx), fp, counts_as_op=False)
    check_search(run, idx, docs, outputs)
    run.facts["checks_s"] = time.perf_counter() - t1
    return {"setup_s": setup}


def check_search(run: Run, idx: str, docs, outputs: dict) -> None:
    spark, inp = run.spark, run.inputs
    # bm25: WAND top-k must equal the exact join scorer (ids and scores)
    sampled = inp.sample(outputs["bm25"], BM25_CHECKS)
    terms = sorted({t for q, _ in sampled for t in q.split()})
    p = postings_long(docs.select("doc_id", "text")).filter(
        F.col("term").isin(terms)).cache()
    dl = docs.select("doc_id", "dl")
    stats, tdf = corpus_stats(dl), term_df(p)
    for q, got in sampled:
        want = rows(bm25.bm25_topk(spark, p, dl, tdf, stats, q, k=K))
        run.check("bm25.rank_identity", got == want, q)
    p.unpersist()
    # query_string: the auto-served answer must equal its scan twin
    for body, got in inp.sample(outputs["query_string"], QS_CHECKS):
        qs = {**body["query"]["query_string"], "serve": "scan"}
        twin = rows(dsl.search(spark, docs, {**body, "query": {"query_string": qs}},
                               index_dir=idx))
        run.check("query_string.auto_vs_scan", got == twin, qs["query"])


# -- build_ingest: every write path, each cycle on a fresh index ---------------

def build_ingest(run: Run, seconds: float, trace_alternate: bool) -> dict:
    spark, tr, inp = run.spark, run.tracer, run.inputs
    t0 = time.perf_counter()
    # JIT and Python-worker warm-up: the first build in a JVM costs ~20 s
    # more whatever its size, so a small one pays it
    build(run, WARMUP_PAGES, inp.seed, os.path.join(run.work, "warmup_idx"))
    setup = time.perf_counter() - t0
    cycle = {"n": -1, "idx": None}
    pending: list = []  # (kind, index dir, payload) checked after the window

    def append(idx: str, c: int) -> int:
        before = load_stats(idx)["max_doc_id"]
        with tr.span("corpus.synth"):
            web = synthesize_web_pages(spark, APPEND_PAGES, seed=append_seed(inp.seed, c))
        with tr.span("build.assign_doc_ids"):
            ids = assign_doc_ids(web.select("url"))
        batch = web.join(F.broadcast(ids), "url").select(
            (F.col("doc_id") + before + 1).alias("doc_id"),
            F.concat_ws(" ", "text", F.lit(marker(c))).alias("text"))
        with tr.span("build.append_documents"):
            append_documents(spark, batch, idx)
            release_doc_id_caches()
        with tr.span("wand.warm_index"):
            wand.warm_index(spark, idx)
        return before

    def step(name: str) -> None:
        if name == "build":
            c = cycle["n"] = cycle["n"] + 1
            if cycle["idx"] is not None:
                wand.evict_index(cycle["idx"])
            idx = cycle["idx"] = os.path.join(run.work, f"idx{c}")
            if run.op("build", lambda: build(run, BUILD_PAGES, inp.seed, idx)):
                # appends change the terms table: fingerprint the fresh build now
                fp = fingerprint(idx)
                pending.append(("recount", idx, fp))
                run.facts.setdefault("fingerprint", fp)
                run.facts.setdefault("index_bytes_per_text_byte",
                                     index_bytes_per_text_byte(idx))
            cycle["reads"] = 0
            return
        c, idx = cycle["n"], cycle["idx"]
        if name == "append_visible":
            before = run.op(name, lambda: append(idx, c))
            cycle["before"] = before
        elif name == "bm25":
            # the first read after each append must see the appended pages
            q = marker(c) if cycle["reads"] == 0 else inp.bm25_query()
            cycle["reads"] += 1

            def fn():
                with tr.span("wand.topk"):
                    return rows(wand.topk(spark, idx, q, k=K))
            out = run.op(name, fn)
            if q == marker(c) and out is not None:
                pending.append(("visible", idx, (out, cycle.get("before"))))
        elif name == "delete":
            term = inp.delete_terms[c % len(inp.delete_terms)]

            def fn():
                with tr.span("deletes.delete_by_term"):
                    return deletes.delete_by_term(spark, idx, term)
            n = run.op(name, fn)
            if n is not None:
                pending.append(("deleted", idx, (term, n)))
        elif name == "merge":
            def fn():
                with tr.span("deletes.merge_generations"):
                    return deletes.merge_generations(spark, idx, min_generations=1)
            run.op(name, fn)

    run.window(seconds, BUILD_ROUND, step, trace_alternate)
    t1 = time.perf_counter()
    run.facts["index_dir"] = cycle["idx"]
    builds = run.samples.get("build") or run.traced.get("build")
    run.facts["build_docs_per_s"] = (
        BUILD_PAGES * 1000.0 / statistics.median(builds) if builds else None)
    check_build_ingest(run, pending)
    run.facts["checks_s"] = time.perf_counter() - t1
    return {"setup_s": setup}


def check_build_ingest(run: Run, pending: list) -> None:
    spark = run.spark
    for kind, idx, payload in pending:
        if kind == "recount":
            run.check("build.recount", payload == expected_fingerprint(idx), payload)
        elif kind == "visible":
            hits, before = payload
            ok = len(hits) == K and before is not None and all(d > before for d, _ in hits)
            run.check("append.visible", ok, hits[:2])
        elif kind == "deleted":
            term, n = payload
            docs = spark.read.parquet(os.path.join(idx, "ingest"))
            left = dsl.count(spark, docs, {"query": {"match": {"text": term}}},
                             index_dir=idx).first()["n"]
            run.check("delete.count_zero", n > 0 and left == 0, [term, n, left])
