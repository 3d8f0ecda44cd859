#!/usr/bin/env python3
"""Benchmark of the es_loaders_spark engine: one workload, one seed, one result.

Run from the repository root:

    python3 perfbench/run.py --workload search --seed 1 --seconds 10 --trace 0

Workloads (see BENCHMARK.json and perfbench/README.md):

- ``search``: a read-only query mix against a warm web index
- ``build_ingest``: full index builds, appends with refresh, reads that
  must see the appended pages, a tail-term delete and a generation merge

Spark runs at ``local[nproc]`` with a driver heap of a quarter of the
physical RAM (at most 8 GB), set through ``SPARK_GRAFT_CPUS`` and
``SPARK_DRIVER_MEM``. All scratch data stays under ``.bench_work/`` of
the checkout. The last stdout line is the result object
``{"correct", "attempted", "failed", "metrics"}``: with ``--trace 0`` the
end-to-end metrics, with ``--trace 1`` the per-layer metrics. The line
before it is a ``{"detail": ...}`` object with every per-operation
figure, its sample count, the checks and the environment.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import platform
import resource
import shlex
import shutil
import statistics
import sys
import time
import traceback
from statistics import median

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("search", "build_ingest")


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def fit_box() -> tuple[int, int]:
    """(CPUs this process may use, driver heap in MB)."""
    cpus = len(os.sched_getaffinity(0))
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return cpus, min(ram_mb // 4, 8192)


def spark_env(work: str, cpus: int, heap_mb: int) -> None:
    """Environment for the Spark driver JVM and its Python workers.

    Spark's local dirs, the JVM's temp dir and the workers' TMPDIR all
    point into ``work``, so a run writes nothing outside the checkout.
    """
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEM": f"{heap_mb}m",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_SUBMIT_ARGS": shlex.join([
            "--conf", "spark.ui.showConsoleProgress=false",
            "--conf", f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            "--conf", f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} "
                      "-XX:-UsePerfData",
            "pyspark-shell",
        ]),
    })


def vm_hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def stop_spark(spark) -> None:
    """Stop Spark, then end the driver JVM and wait for it to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on end of stdin
        proc.wait(timeout=60)


def geomean(xs: list[float]) -> float:
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def p90(xs: list[float]) -> float:
    return statistics.quantiles(xs, n=10)[-1] if len(xs) > 1 else xs[0]


def op_p50(samples: dict[str, list[float]]) -> float:
    """Geometric mean over the operation types of each type's median."""
    return geomean([median(v) for v in samples.values()])


def named_metrics(workload: str, samples: dict, facts: dict, wall_ops: int,
                  failed: int, common: dict) -> dict:
    """The workload's figures under their documented names, with counts."""
    def ms(op):
        v = samples.get(op, [])
        return {"value": median(v), "unit": "ms", "n": len(v)} if v else None

    def s(op):
        v = samples.get(op, [])
        return {"value": median(v) / 1000.0, "unit": "s", "n": len(v)} if v else None

    out = {k: {**v, "n": 1} for k, v in common.items()}
    out["ops_failed_ratio"] = {"value": failed / max(wall_ops, 1), "unit": "ratio",
                               "n": wall_ops}
    out["op_p50_ms"] = {"value": op_p50(samples), "unit": "ms", "n": wall_ops}
    if workload == "search":
        for op in ("bm25", "msearch", "query_string", "match_filter", "aggs", "count"):
            out[f"{op}_p50_ms"] = ms(op)
        bm = samples.get("bm25", [])
        out["bm25_p90_ms"] = {"value": p90(bm), "unit": "ms", "n": len(bm),
                              "note": "needs n >= 100 for ten samples beyond it"}
        out["search_ops_per_s"] = {"value": facts["ops_per_s"], "unit": "1/s",
                                   "n": wall_ops}
    else:
        builds = samples.get("build", [])
        out["build_docs_per_s"] = {"value": facts["build_docs_per_s"], "unit": "docs/s",
                                   "n": len(builds)}
        out["append_visible_p50_s"] = s("append_visible")
        out["ingest_read_p50_ms"] = ms("bm25")
        out["delete_p50_s"] = s("delete")
        out["merge_p50_s"] = s("merge")
    return out


def per_layer(run, replay: dict) -> tuple[dict, dict]:
    """The per-layer metrics, and the span report they come from."""
    from tracing import span_report

    tracer = run.tracer
    rep = span_report(tracer.spans)
    ops = {s["name"] for s in tracer.spans if s["parent"] is None}
    n_ops = sum(rep[o]["calls"] for o in ops)
    out = {}
    for key, name, unit in (
        ("jobs", "spark.jobs_per_op", "count"),
        ("tasks", "spark.tasks_per_op", "count"),
        ("driver_ms", "spark.driver_ms_per_op", "ms"),
        ("executor_run_ms", "spark.executor_run_ms_per_op", "ms"),
        ("executor_cpu_ms", "spark.executor_cpu_ms_per_op", "ms"),
        ("gc_ms", "spark.gc_ms_per_op", "ms"),
        ("shuffle_bytes", "spark.shuffle_bytes_per_op", "B"),
    ):
        out[name] = (sum(rep[o][key] for o in ops) / n_ops, unit)
    out["bm25.driver_ms"] = (rep["bm25"]["driver_ms"] / rep["bm25"]["calls"], "ms")
    out["cache.persisted_rdds_max"] = (tracer.cache_max[0], "count")
    out["cache.storage_bytes_max"] = (tracer.cache_max[1], "B")
    # traced over untraced operations of the same run: 1.0 is no overhead
    out["trace.overhead_ratio"] = (op_p50(run.traced) / op_p50(run.samples), "ratio")
    units = {"analyze": "Mtok/s", "codec": "Mpost/s", "wand": "ratio",
             "querystring": "ms", "catalog": "B"}
    for name, value in replay.items():
        out[name] = (value, units[name.split(".")[0]])
    return {k: {"value": v, "unit": u} for k, (v, u) in out.items()}, rep


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "es_loaders_spark")):
        print("perfbench: no es_loaders_spark package next to perfbench/; "
              "run from a full checkout", file=sys.stderr)
        return 2
    cpus, heap_mb = fit_box()
    bench_dir = os.path.join(ROOT, ".bench_work")
    work = os.path.join(bench_dir, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark_env(work, cpus, heap_mb)
    sys.path[:0] = [HERE, ROOT]

    import pyarrow
    import pyspark

    import layers
    import selfcheck
    import workloads
    from es_loaders_spark.session import get_spark
    from inputs import Inputs
    from tracing import SparkCounters, Tracer

    env = {"nproc": cpus, "driver_heap_mb": heap_mb, "seed": args.seed,
           "workload": args.workload, "seconds": args.seconds, "trace": args.trace,
           "pyspark": pyspark.__version__, "pyarrow": pyarrow.__version__,
           "python": platform.python_version()}
    checks = [{"check": k, "ok": v, "detail": None}
              for k, v in selfcheck.run_all().items()]

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    start_s = time.perf_counter() - t0
    try:
        counters = SparkCounters(spark) if args.trace else None
        run = workloads.Run(spark, Tracer(False, counters), Inputs(args.seed), work)
        setup = getattr(workloads, args.workload)(run, args.seconds, bool(args.trace))
        idx = run.facts["index_dir"]
        replay = {}
        if args.trace:
            replay = layers.codec_and_analyze(idx)
            checks.append({"check": "codec.roundtrip", "detail": None,
                           "ok": replay.pop("_roundtrip_ok")})
            fixed = Inputs(args.seed)
            replay.update(layers.wand_replay(idx, [fixed.bm25_query() for _ in range(20)]))
            replay["querystring.parse_ms"] = layers.querystring_parse_ms(fixed.qs_pool)
            replay.update(layers.catalog_bytes(idx))
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        rss_mb = vm_hwm_mb(jvm_pid) + resource.getrusage(
            resource.RUSAGE_SELF).ru_maxrss / 1024.0
    except Exception:
        traceback.print_exc(file=sys.stderr)
        stop_spark(spark)
        return 1
    stop_spark(spark)

    checks += run.checks
    correct = all(c["ok"] for c in checks) and run.failed == 0
    probe = median(run.probes)
    common = {
        "setup_s": {"value": start_s + setup["setup_s"], "unit": "s"},
        "index_bytes_per_text_byte": {
            "value": run.facts["index_bytes_per_text_byte"], "unit": "B/B"},
        "peak_rss_mb": {"value": rss_mb, "unit": "MB"},
    }
    detail = {
        "env": env,
        "rounds": run.facts["rounds"],
        "fingerprint": run.facts["fingerprint"],
        "setup": {"spark_start_s": start_s, "workload_setup_s": setup["setup_s"]},
        "checks_s": run.facts["checks_s"],
        "probe_ms": {"value": probe, "unit": "ms", "n": len(run.probes)},
        "ops": {k: {"n": len(v), "p50_ms": median(v), "samples_ms": v}
                for k, v in run.samples.items()},
        "named": named_metrics(args.workload, run.samples, run.facts,
                               run.attempted, run.failed, common),
        "checks": checks,
    }
    if args.trace:
        metrics, rep = per_layer(run, replay)
        # the JVM's high-water mark swings by a third between runs with the
        # timing of heap growth, too much for a bound: reported, not bounded
        metrics["peak_rss_mb"] = common["peak_rss_mb"]
        detail["spans"] = {k: {m: (x / v["calls"] if m != "calls" else x)
                               for m, x in v.items()} for k, v in rep.items()}
        detail["traced_ops"] = {k: {"n": len(v), "p50_ms": median(v)}
                                for k, v in run.traced.items()}
        os.makedirs(os.path.join(bench_dir, "traces"), exist_ok=True)
        trace_path = os.path.join(bench_dir, "traces",
                                  f"{args.workload}-seed{args.seed}.jsonl")
        run.tracer.write(trace_path, env)
        detail["trace_file"] = os.path.relpath(trace_path, ROOT)
    else:
        metrics = {
            "setup_s": common["setup_s"],
            "index_bytes_per_text_byte": common["index_bytes_per_text_byte"],
            "op_p50_probes": {"value": op_p50(run.in_probes), "unit": "probes"},
            "bm25_p50_probes": {"value": median(run.in_probes["bm25"]), "unit": "probes"},
        }
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"detail": detail}))
    print(json.dumps({"correct": correct, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
