"""Session defaults and session-scoped cache safety."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

from es_loaders_spark.session import default_driver_memory

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_default_driver_memory_fits_the_box(monkeypatch):
    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    got = default_driver_memory()
    assert got.endswith("m")
    mb = int(got[:-1])
    assert mb <= 8192 and mb <= max(ram_mb // 4, 512)
    monkeypatch.setenv("SPARK_DRIVER_MEM", "3g")
    assert default_driver_memory() == "3g"


_RESTART = textwrap.dedent("""
    import os, sys
    sys.path.insert(0, sys.argv[1])
    from es_loaders_spark import dedup, dsl, postings, wand
    from es_loaders_spark.build import build_index
    from es_loaders_spark.session import get_spark

    idx = os.path.join(sys.argv[2], "idx")
    rows = [(i, f"alpha beta w{i % 7} v{i % 11} gamma{i % 3}") for i in range(120)]

    def session():
        s = get_spark("restart-probe", cores=2, shuffle_partitions=4)
        return s, s.createDataFrame(rows, "doc_id long, text string")

    def qs(spark, docs, q):
        body = {"query": {"query_string": {"query": q, "serve": "scan"}}}
        return dsl.search(spark, docs, body).collect()

    def top(spark):
        return [tuple(r) for r in wand.topk(spark, idx, "alpha w3 v5", k=5).collect()]

    spark, docs = session()
    build_index(spark, docs, idx, n_shards=2, positions=False)
    want = top(spark)  # warms the index
    for i in range(3):
        qs(spark, docs, f"w{i} OR gamma1")
    dedup.minhash_lsh_pairs(docs, num_hashes=8, bands=4).collect()
    assert len(postings._TRACKED_PERSISTS) and len(dedup._TRACKED_PERSISTS)
    spark.stop()

    spark, docs = session()
    for i in range(postings._MAX_TRACKED + 4):  # forces pool evictions
        qs(spark, docs, f"v{i % 11} AND gamma{i % 3} OR w{i % 7}")
    assert top(spark) == want  # driver path on the previously warmed index
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    assert top(spark) == want  # mapInPandas path on the same entry
    postings.release_scoring_caches()
    dedup.release_dedup_caches()
    wand.evict_index(idx)
    spark.stop()
    print("RESTART-OK")
""")


def test_caches_survive_session_restart(tmp_path):
    """Cache entries made by a stopped session (warm index, query_string
    and dedup pools) are dropped without calling into the dead JVM-side
    context: eviction, release and re-querying in a new session work.
    Runs in its own process — stopping the shared test session would
    break every later test."""
    env = {**os.environ, "SPARK_DRIVER_MEM": "1g"}
    env.pop("PYSPARK_SUBMIT_ARGS", None)
    proc = subprocess.run(
        [sys.executable, "-c", _RESTART, REPO, str(tmp_path)],
        capture_output=True, text=True, timeout=600, env=env,
    )
    assert "RESTART-OK" in proc.stdout, proc.stderr[-3000:]


def test_aux_pool_carries_the_submitters_job_properties(spark):
    """A job submitted through the shared driver-side pool runs under the
    submitter's job description and scheduler pool, and a later submit
    from a thread without them leaves none behind on the pool thread."""
    import threading

    from es_loaders_spark.build import _aux_pool

    sc = spark.sparkContext
    keys = ("spark.job.description", "spark.scheduler.pool")

    def read():
        return tuple(sc.getLocalProperty(k) for k in keys)

    sc.setJobDescription("x")
    sc.setLocalProperty("spark.scheduler.pool", "p1")
    try:
        for _ in range(8):  # idle pool threads are reused across submits
            assert _aux_pool().submit(read).result(timeout=60) == ("x", "p1")
    finally:
        sc.setJobDescription(None)
        sc.setLocalProperty("spark.scheduler.pool", None)
    got = []
    t = threading.Thread(target=lambda: got.extend(
        _aux_pool().submit(read).result(timeout=60) for _ in range(8)))
    t.start()
    t.join(timeout=120)
    assert not t.is_alive()
    assert got == [(None, None)] * 8
