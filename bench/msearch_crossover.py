"""msearch crossover sweep: ``wand.topk_batch`` on the driver site vs the
executor site, by batch size, at one or more index sizes.

Each index is built the way perfbench's ``search`` workload builds its
5k-page one (``workloads.driver_ingest`` + ``build_index(positions=
False)``): with ``align_shards=True`` by default, or with ``--shards N``
hash shards (``bench/scaling.py``'s layout is 40k pages, 64 shards).
Queries are 1-5 Zipf-drawn terms, ``Inputs``' term draw, the length
cycling through 1-5 as in ``Inputs.bm25_query``, which would stall
here: it never repeats a query, and a sweep draws thousands. For every
repetition and batch size one fresh batch runs on both sites, in
alternating order, and the two answers must be equal:

- driver: the cutoff ``wand._DRIVER_BATCH_QUERY_DOCS`` lifted, so any
  batch scores in the driver process;
- executor: ``spark.sql.autoBroadcastJoinThreshold`` at -1, the one
  ``mapInPandas`` stage.

Before the sweep, the process's first ``topk_batch`` (cold: planning,
and for the executor site the Python worker start) runs on the site
``--first`` names. Wall times are of ``topk_batch(...).collect()``.

Per index size it prints the median table and the crossover: the batch
size where the driver's median overtakes the executor's (linear between
the two batch sizes that bracket it), and that batch times the index's
docs. ``wand._DRIVER_BATCH_QUERY_DOCS`` sits under the smallest of
those products. One JSON line closes the output.

Usage: python bench/msearch_crossover.py [--pages 5000 10000 20000 40000]
       [--shards 0] [--batches 10 20 50 100 200] [--reps 5]
       [--first driver|executor] [--cpus 4]
The defaults are the sweep behind the constant; ``--pages 40000
--shards 64`` adds ``bench/scaling.py``'s layout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "perfbench"))

THRESHOLD = "spark.sql.autoBroadcastJoinThreshold"


def crossover(batches: list[int], med: dict) -> float | None:
    """Interpolated batch size where driver ms first exceeds executor
    ms; None if the driver is ahead at every measured size."""
    gap = [(b, med[f"{b}/driver"] - med[f"{b}/executor"]) for b in batches]
    if gap[0][1] > 0:
        return float(gap[0][0])
    for (b0, g0), (b1, g1) in zip(gap, gap[1:]):
        if g1 > 0:
            return b0 + (b1 - b0) * (-g0) / (g1 - g0)
    return None


def sweep(spark, args, pages: int, shards: int, work: str) -> dict:
    from inputs import Inputs
    from workloads import driver_ingest

    from es_loaders_spark import wand
    from es_loaders_spark.build import build_index

    open_gate = spark.conf.get(THRESHOLD)
    cutoff = wand._DRIVER_BATCH_QUERY_DOCS
    idx = os.path.join(work, f"idx_{pages}_{shards}")
    try:
        driver_ingest(spark, pages, args.seed, os.path.join(idx, "ingest"))
        docs = spark.read.parquet(os.path.join(idx, "ingest"))
        if shards:
            build_index(spark, docs, idx, n_shards=shards, positions=False)
        else:
            build_index(spark, docs, idx, positions=False, align_shards=True)
        wand.warm_index(spark, idx)
        warm = wand._WarmIndex.get(spark, idx)
        n_docs = int(warm.stats["n_docs"])
        inp = Inputs(args.seed)

        def draw(n: int) -> list[str]:
            return [" ".join(inp._terms(1 + i % 5)) for i in range(n)]

        def run(site: str, batch: list[str]) -> tuple[float, list]:
            if site == "driver":
                spark.conf.set(THRESHOLD, open_gate)
                wand._DRIVER_BATCH_QUERY_DOCS = 10**18
            else:
                spark.conf.set(THRESHOLD, "-1")
                wand._DRIVER_BATCH_QUERY_DOCS = cutoff
            t0 = time.perf_counter()
            rows = wand.topk_batch(spark, idx, batch, k=args.k).collect()
            ms = (time.perf_counter() - t0) * 1000.0
            return ms, sorted(tuple(r) for r in rows)

        other = {"driver": "executor", "executor": "driver"}
        cold_ms, _ = run(args.first, draw(50))
        run(other[args.first], draw(50))

        times = {(b, s): [] for b in args.batches for s in other}
        for rep in range(args.reps):
            for b in args.batches:
                batch = draw(b)
                order = ["driver", "executor"][:: 1 if rep % 2 == 0 else -1]
                answers = []
                for site in order:
                    ms, rows = run(site, batch)
                    times[(b, site)].append(ms)
                    answers.append(rows)
                assert answers[0] == answers[1], f"sites disagree at batch {b}"
    finally:
        wand._DRIVER_BATCH_QUERY_DOCS = cutoff
        spark.conf.set(THRESHOLD, open_gate)
        wand.evict_index(idx)
        shutil.rmtree(idx, ignore_errors=True)

    med = {f"{b}/{s}": round(statistics.median(v), 1) for (b, s), v in times.items()}
    xb = crossover(args.batches, med)
    print(f"pages {pages}, {warm.n_shards} shards, {n_docs} docs")
    print(f"{'batch':>6} {'executor ms':>12} {'driver ms':>10}")
    for b in args.batches:
        print(f"{b:>6} {med[f'{b}/executor']:>12} {med[f'{b}/driver']:>10}")
    if xb is None:
        print("crossover: beyond the largest batch")
    else:
        print(f"crossover: {xb:.0f} queries = {xb * n_docs:,.0f} query-docs")
    return {
        "pages": pages, "shards": warm.n_shards, "n_docs": n_docs,
        "median_ms": med, "cold_first_ms": {args.first: round(cold_ms, 1)},
        "crossover_batch": None if xb is None else round(xb, 1),
        "crossover_query_docs": None if xb is None else round(xb * n_docs),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", type=int, nargs="+", default=[5000, 10000, 20000, 40000])
    ap.add_argument("--shards", type=int, default=0,
                    help="hash shards; 0 = align_shards (the search layout)")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--batches", type=int, nargs="+", default=[10, 20, 50, 100, 200])
    ap.add_argument("--reps", type=int, default=5)
    ap.add_argument("--k", type=int, default=10)
    ap.add_argument("--first", choices=("driver", "executor"), default="driver")
    ap.add_argument("--cpus", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", "4")))
    args = ap.parse_args()

    from es_loaders_spark.session import get_spark

    spark = get_spark("msearch-crossover", cores=args.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    work = tempfile.mkdtemp(prefix="msearch_xover_")
    try:
        out = [sweep(spark, args, pages, args.shards, work) for pages in args.pages]
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"cpus": args.cpus, "reps": args.reps, "sizes": out}))


if __name__ == "__main__":
    main()
