#!/usr/bin/env python3
"""lakeapi_spark benchmark: one workload, one seed, one JSON result.

    python3 perfbench/run.py --workload serve_lookup --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The last stdout line is
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics with ``--trace 0``, the per-layer split with ``--trace 1``. The
line before it records the host (cpus, Spark parallelism), the seed and
per-class medians. See perfbench/README.md for the workloads and the
metric definitions.

Everything the run writes stays under ``perfbench/.work``: the
generated tables (made once per checkout), and a per-run directory for
layouts, Spark scratch, temp files and the program's cache dir, removed
when the run ends. Spans of a traced run go to ``perfbench/.work/traces``.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import random
import resource
import shutil
import sys
import tempfile
import threading
import time

import tracing
from tracing import median
from workloads import WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
#: layout repetitions whose median enters setup_s
LAYOUT_REPEATS = 3


class Ctx:
    """What the workloads share within a run."""

    def __init__(self, spark, sf_dir, tracer):
        self.spark = spark
        self.sf_dir = sf_dir
        self.tracer = tracer
        self.registry = None
        self.keys = None
        self.duck = None


def _cpus() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def _isolate(run_dir: str, cpus: int) -> None:
    """Point every scratch location of the program and of Spark into
    ``run_dir``. Must run before pyspark or lakeapi_spark is imported
    (the program reads its cache dir at import)."""
    tmp = os.path.join(run_dir, "tmp")
    for d in ("tmp", "cache", "spark-local", "warehouse"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": "3g",
        "SPARK_GRAFT_CACHE_DIR": os.path.join(run_dir, "cache"),
        "SPARK_GRAFT_EXTRA_JARS": "",
        "SPARK_GRAFT_CONF": (f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp};"
                             f"spark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}"),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "TMPDIR": tmp,
    })
    tempfile.tempdir = tmp


def _drop_stale_runs() -> None:
    """Remove run directories left by runs that were killed."""
    if not os.path.isdir(WORK):
        return
    for d in os.listdir(WORK):
        if d.startswith("run-") and d[4:].isdigit():
            try:
                os.kill(int(d[4:]), 0)
            except ProcessLookupError:
                shutil.rmtree(os.path.join(WORK, d), ignore_errors=True)
            except PermissionError:
                pass


def run(args) -> dict:
    from datagen import ensure_dataset

    cpus = _cpus()
    _drop_stale_runs()
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    _isolate(run_dir, cpus)
    sf_dir = ensure_dataset(os.path.join(WORK, "data"))

    t_session = time.perf_counter()
    from pyspark import SparkContext

    from lakeapi_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    spark.read.parquet(f"{sf_dir}/region.parquet").count()
    session_s = time.perf_counter() - t_session
    gateway = SparkContext._gateway
    try:
        return _measure(args, spark, sf_dir, run_dir, cpus, session_s)
    finally:
        spark.stop()
        proc = gateway.proc
        gateway.shutdown()
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - a JVM that will not exit is killed
            proc.kill()
            proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)


def _measure(args, spark, sf_dir, run_dir, cpus, session_s) -> dict:
    tracer = tracing.Tracer()
    if args.trace:
        tracing.install(tracer)
    wl = WORKLOADS[args.workload]()
    ctx = Ctx(spark, sf_dir, tracer)
    clients = args.clients or wl.clients

    # set-up: the layouts (and registration) LAYOUT_REPEATS times, each
    # in a fresh directory, then one untimed op of every class. The warm
    # block is the same for every seed: which class runs first sets the
    # process's peak RSS (up to 15 MB apart), so py_peak_rss_mb and
    # setup_s do not depend on the seed
    layout_s = []
    for k in range(LAYOUT_REPEATS):
        dest = os.path.join(run_dir, f"layout{k}")
        t = time.perf_counter()
        wl.layout(ctx, dest)
        layout_s.append(time.perf_counter() - t)
        if k:
            shutil.rmtree(os.path.join(run_dir, f"layout{k - 1}"), ignore_errors=True)
    t = time.perf_counter()
    for req in wl.block(random.Random("warm"), ctx):
        wl.execute(ctx, req)
    warm_s = time.perf_counter() - t
    setup_s = session_s + median(layout_s) + warm_s

    records = []  # (client, block, req, op, out kept for its check, error, kept)
    lock = threading.Lock()
    op_ids = itertools.count()
    start = time.perf_counter()
    deadline = start + args.seconds

    def client(ci: int) -> None:
        rng = random.Random(args.seed * 1009 + ci)
        sc = spark.sparkContext
        seen: dict[str, int] = {}
        n_blocks = 0
        while (n_blocks < args.blocks) if args.blocks else (time.perf_counter() < deadline):
            n_blocks += 1
            # whole blocks only, so every run has the same class mix
            for req in wl.block(rng, ctx):
                with lock:
                    op_id = next(op_ids)
                # every other op of a class is traced; the untraced half
                # prices the tracing itself (trace.overhead_s)
                traced = bool(args.trace) and seen.get(req.cls, 0) % 2 == 0
                group = f"perfbench-{op_id}"
                if traced:
                    sc.setJobGroup(group, req.cls, False)
                err = out = None
                with tracer.op(op_id, req.cls, traced) as op:
                    try:
                        out = wl.execute(ctx, req)
                    except Exception as e:  # noqa: BLE001 - counted as failed
                        err = f"{type(e).__name__}: {e}"
                if traced:
                    try:
                        tracing.read_spark(spark, op, group)
                    except Exception as e:  # noqa: BLE001 - counted as failed
                        err = err or f"reading the trace: {type(e).__name__}: {e}"
                    sc.setLocalProperty("spark.jobGroup.id", None)
                seen[req.cls] = seen.get(req.cls, 0) + 1
                keep = err is None and seen[req.cls] <= wl.checks_per_class
                with lock:
                    records.append((ci, n_blocks, req, op, out if keep else None, err, keep))

    crashed = []

    def guarded(ci: int) -> None:
        try:
            client(ci)
        except BaseException as e:  # re-raised in the main thread below
            crashed.append(e)

    threads = [threading.Thread(target=guarded, args=(ci,)) for ci in range(clients)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    if crashed:
        raise crashed[0]
    ops = [r[3] for r in records]
    elapsed = max(op.end for op in ops) - start
    rss_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024

    # output checks, outside the timed window
    import duckdb

    from datagen import TABLES

    ctx.duck = duckdb.connect()
    for t in TABLES:
        ctx.duck.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    failed = 0
    for _ci, _b, req, op, out, err, keep in records:
        if err is not None:
            failed += 1
            print(f"op {op.op_id} {req.cls} failed: {err}", file=sys.stderr)
    to_check = [(req, out) for _ci, _b, req, _op, out, _err, keep in records if keep]
    for req, out in to_check:
        why = wl.check(ctx, req, out)
        if why is not None:
            failed += 1
            print(f"{req.cls} wrong: {why} ({req})", file=sys.stderr)
    ctx.duck.close()
    checks_s = time.perf_counter() - start - elapsed

    # a block's span is its first op's start to its last op's end; the
    # median block sets the pace, so a burst of load from elsewhere on
    # the host that slows a few blocks does not move throughput
    spans: dict[tuple[int, int], list[float]] = {}
    for ci, b, _req, op, *_ in records:
        span = spans.setdefault((ci, b), [op.start, op.end])
        span[0], span[1] = min(span[0], op.start), max(span[1], op.end)
    block_s = [e - s for s, e in spans.values()]
    block_ops = len(ops) / len(spans)
    by_cls: dict[str, list[float]] = {}
    for op in ops:
        by_cls.setdefault(op.cls, []).append(op.wall)
    info = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace, "cpus": cpus,
        "parallelism": spark.sparkContext.defaultParallelism, "clients": clients,
        "ops": len(ops), "blocks": len(spans), "checked": len(to_check), "elapsed_s": elapsed,
        "checks_s": checks_s, "block_p50_s": median(block_s),
        "block_min_max_s": [min(block_s), max(block_s)],
        "setup_parts_s": {"session": session_s, "layouts": layout_s, "warm": warm_s},
        "class_p50_s": {c: median(v) for c, v in sorted(by_cls.items())},
        "class_ops": {c: len(v) for c, v in sorted(by_cls.items())},
    }
    correct = failed == 0
    if args.trace:
        metrics, unreconciled = tracing.layer_metrics(ops)
        if unreconciled:
            correct = False
            print(f"spans do not add up to wall time: {unreconciled[:5]}", file=sys.stderr)
        units = {k: _unit(k) for k in metrics}
        tracer.dump(os.path.join(WORK, "traces", f"{args.workload}-seed{args.seed}.jsonl"))
    else:
        metrics = {
            "setup_s": setup_s,
            "throughput_ops": clients * block_ops / median(block_s),
            "latency_p50_s": median(op.wall for op in ops),
            "queries_total_s": sum(median(v) for v in by_cls.values()),
            "py_peak_rss_mb": rss_mb,
        }
        units = {"setup_s": "s", "throughput_ops": "1/s", "latency_p50_s": "s",
                 "queries_total_s": "s", "py_peak_rss_mb": "MB"}
    print(json.dumps({"info": info}))
    return {
        "correct": correct,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }


def _unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_ratio"):
        return "ratio"
    if "bytes" in name:
        return "bytes"
    if name.endswith("rows_out"):
        return "rows"
    return "count"


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--blocks", type=int, default=0,
                    help="run this many request blocks per client instead of --seconds")
    ap.add_argument("--clients", type=int, default=0, help="override the workload's client count")
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "lakeapi_spark")):
        print(f"no lakeapi_spark package under {ROOT}: run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(1, ROOT)
    result = run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
