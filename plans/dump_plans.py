"""Write the optimized logical plan of registry rows, normalized for diffing.

Usage::

    python plans/dump_plans.py OUT_DIR NAME [NAME ...] --sf-dir DIR

Each NAME is a ``queries.QUERIES`` / ``queries.EXTRA_QUERIES`` row, or one
of the special names:

- ``@aggs``: every registry row whose source holds an ``"aggs"`` body
- ``perfbench_aggs``: perfbench's ``search`` aggs body (seed 1) over a
  500-page perfbench ingest with a built index

Writes ``OUT_DIR/<name>.txt``. Expression ids (``#123``) print as ``#``,
and every ``tempfile.mkdtemp`` directory the rows create prints as
``<tmp:PREFIX>``, so two dumps of the same plans are byte-identical
across processes. The package is imported from the checkout the script
sits in, so a copy of this file in another checkout dumps that
checkout's plans.
"""

from __future__ import annotations

import argparse
import atexit
import inspect
import os
import re
import shutil
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

_made: list[tuple[str, str]] = []
_mkdtemp = tempfile.mkdtemp


def _recording_mkdtemp(suffix=None, prefix=None, dir=None):
    d = _mkdtemp(suffix, prefix, dir)
    _made.append((d, prefix or "tmp"))
    return d


tempfile.mkdtemp = _recording_mkdtemp


def normalize(plan: str, sf_dir: str) -> str:
    # longest first: a dir nested in another must not be half-replaced
    for d, prefix in sorted(_made, key=lambda t: -len(t[0])):
        plan = plan.replace(d, f"<tmp:{prefix}>")
    plan = plan.replace(os.path.abspath(sf_dir), "<sf_dir>")
    return re.sub(r"#\d+", "#", plan)


def aggs_rows() -> list[str]:
    from es_loaders_spark import queries as Q

    return [n for reg in (Q.QUERIES, Q.EXTRA_QUERIES) for n, fn in reg.items()
            if '"aggs"' in inspect.getsource(fn)]


def perfbench_aggs(spark):
    sys.path.insert(0, os.path.join(ROOT, "perfbench"))
    from inputs import Inputs
    from workloads import driver_ingest

    from es_loaders_spark import dsl, wand
    from es_loaders_spark.build import build_index

    idx = tempfile.mkdtemp(prefix="perfbench_aggs_")
    atexit.register(shutil.rmtree, idx, True)
    driver_ingest(spark, 500, 1, os.path.join(idx, "ingest"))
    docs = spark.read.parquet(os.path.join(idx, "ingest"))
    build_index(spark, docs, idx, positions=False, align_shards=True)
    wand.warm_index(spark, idx)
    body = Inputs(1).aggs_pool[0]
    return dsl.search(spark, docs, body, index_dir=idx)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("out_dir")
    ap.add_argument("names", nargs="+")
    ap.add_argument("--sf-dir", required=True,
                    help="generated test data (the tables registry rows read)")
    a = ap.parse_args()

    from es_loaders_spark import queries as Q
    from es_loaders_spark.session import get_spark

    names = [n for name in a.names
             for n in (aggs_rows() if name == "@aggs" else [name])]
    spark = get_spark("dump-plans", cores=4, shuffle_partitions=8)
    os.makedirs(a.out_dir, exist_ok=True)
    for name in names:
        if name == "perfbench_aggs":
            df = perfbench_aggs(spark)
        else:
            df = {**Q.QUERIES, **Q.EXTRA_QUERIES}[name](spark, a.sf_dir)
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        with open(os.path.join(a.out_dir, f"{name}.txt"), "w") as f:
            f.write(normalize(plan, a.sf_dir))
        print(name, flush=True)


if __name__ == "__main__":
    main()
