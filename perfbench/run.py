"""Repository benchmark: one seeded run of one workload.

    python3 perfbench/run.py --workload world_hot --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. Starts one Spark session at
``local[<cores>]`` with a driver heap sized from physical memory, drives
the World through one client thread, checks every result against an
independent model, and prints as its last stdout line one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the ``end_to_end`` list of BENCHMARK.json; with ``--trace 1``
they are the ``per_layer`` list, which adds the query and store layers
(see perfbench/README.md). Everything the run writes goes under
``.bench_work/`` in the checkout and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = {"world_hot": "hot", "world_wide": "wide"}
READ_SHARE = 0.4  # of --seconds; the CRUD phase gets the rest


def fit_box(work: str) -> None:
    """Pin Spark to this machine: every core, a heap of a quarter of
    physical memory (1-8 GiB), scratch and temp dirs inside ``work``."""
    cpus = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    mem = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    heap_gb = max(1, min(8, mem // (4 << 30)))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{heap_gb}g"
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def spark_conf(work: str, trace: bool) -> dict[str, str]:
    conf = {
        "spark.local.dir": os.path.join(work, "local"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        proc.wait(timeout=120)


def pct(vals: list[float], q: float) -> float:
    """Percentile; 0 when no sample was taken (every try failed, and
    the failures are counted)."""
    import numpy as np

    return float(np.percentile(vals, q)) if vals else 0.0


def phase(name: str, fn) -> None:
    t0 = time.perf_counter()
    fn()
    print(f"perfbench: {name} {time.perf_counter() - t0:.2f}s", file=sys.stderr)


def end_to_end(wr, session_s: float) -> tuple[dict[str, float], dict[str, int]]:
    s = {k: wr.samples.get(k, []) for k in ("get_ms", "select_ms", "flush_s", "pending_read_ms")}
    vals = {
        "setup_s": session_s + wr.out["world.build_s"] + wr.out["core.zonemap.refresh_s"],
        "get_p50_ms": pct(s["get_ms"], 50),
        "select_p50_ms": pct(s["select_ms"], 50),
        "reads_per_s": wr.out["reads_per_s"],
        "crud_rows_per_s": wr.out["crud_rows_per_s"],
        "flush_p50_s": pct(s["flush_s"], 50),
        "pending_read_p50_ms": pct(s["pending_read_ms"], 50),
        "disk_bytes_per_live_row": wr.out["disk_bytes_per_live_row"],
    }
    counts = {
        "setup_s": 3, "get_p50_ms": len(s["get_ms"]), "select_p50_ms": len(s["select_ms"]),
        "world.read.get_p90_ms": len(s["get_ms"]), "world.read.select_p90_ms": len(s["select_ms"]),
        "flush_p50_s": len(s["flush_s"]), "pending_read_p50_ms": len(s["pending_read_ms"]),
    }
    return vals, counts


def run(args, spec: dict, work: str) -> tuple[dict, dict]:
    import bench
    from dmds_spark.session import get_spark

    from engine_load import EngineRun
    from spans import Tracer, attribute_jobs, read_event_log
    from world_load import WorldRun

    trace = args.trace == 1
    tracer = Tracer(trace)
    steal0, total0 = bench._cpu_jiffies()
    load0 = os.getloadavg()[0]
    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", extra_conf=spark_conf(work, trace))
    session_s = time.perf_counter() - t0
    sc = spark.sparkContext
    info = {"master": sc.master, "default_parallelism": sc.defaultParallelism,
            "heap": sc.getConf().get("spark.driver.memory")}
    wr = er = None
    try:
        wr = WorldRun(spark, WORKLOADS[args.workload], args.seed, work, tracer)
        phase("setup", wr.setup)
        phase("read", lambda: wr.read_phase(args.seconds * READ_SHARE))
        phase("crud", lambda: wr.crud_phase(args.seconds * (1 - READ_SHARE)))
        phase("final check", wr.final_check)
        wr.close()
        if trace:
            er = EngineRun(spark, work, ROOT, tracer)
            er.prepare()
            phase("engine pass", er.run_pass)
    finally:
        stop_spark(spark)
    steal1, total1 = bench._cpu_jiffies()
    info.update({
        "load1_start": load0, "load1_end": os.getloadavg()[0],
        "steal_pct": 100.0 * (steal1 - steal0) / max(total1 - total0, 1),
        "session_start_s": session_s,
    })
    e2e, counts = end_to_end(wr, session_s)
    attempted, failed = wr.attempted, wr.failed
    errors = list(wr.errors)
    if not trace:
        metrics = e2e
    else:
        attribute_jobs(tracer.spans, read_event_log(os.path.join(work, "eventlog")))
        metrics = {"session.start_s": session_s,
                   "world.read.get_p90_ms": pct(wr.samples.get("get_ms", []), 90),
                   "world.read.select_p90_ms": pct(wr.samples.get("select_ms", []), 90)}
        metrics.update(wr.layer_metrics())
        metrics.update(er.layer_metrics())
        metrics.update({f"traced.{k}": v for k, v in e2e.items()})
        attempted += er.attempted
        failed += er.failed
        errors += er.errors
    names = spec["per_layer" if trace else "end_to_end"]
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m["name"]: {"value": float(metrics.get(m["name"], 0.0)), "unit": m["unit"]}
                    for m in names},
    }
    return result, {"info": info, "counts": counts, "errors": errors}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "dmds_spark", "__init__.py")):
        print(f"perfbench: no dmds_spark package in {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    scratch = os.path.join(ROOT, ".scratch")
    scratch_before = {d: set(os.listdir(os.path.join(scratch, d)))
                      for d in (os.listdir(scratch) if os.path.isdir(scratch) else [])}
    fit_box(work)
    sys.path.insert(0, ROOT)
    try:
        result, detail = run(args, spec, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        # store queries write under <root>/.scratch/<kind>/: drop this run's entries
        if os.path.isdir(scratch):
            for d in os.listdir(scratch):
                for e in set(os.listdir(os.path.join(scratch, d))) - scratch_before.get(d, set()):
                    shutil.rmtree(os.path.join(scratch, d, e), ignore_errors=True)

    info = detail["info"]
    print(f"box: master={info['master']} default_parallelism={info['default_parallelism']} "
          f"heap={info['heap']} load1={info['load1_start']:.2f}->{info['load1_end']:.2f} "
          f"steal_pct={info['steal_pct']:.2f} session_start_s={info['session_start_s']:.2f}")
    for name, v in result["metrics"].items():
        n = detail["counts"].get(name)
        print(f"  {name:48s} {v['value']:14.4f} {v['unit']}" + (f"  (n={n})" if n else ""))
    for e in detail["errors"][:20]:
        print(f"  FAILED: {e}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
