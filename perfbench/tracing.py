"""Span recorder for the traced run, installed from outside the program.

Nothing under ``lakeapi_spark/`` knows about tracing. :func:`install`
wraps the public functions of each layer (and the few private ones that
carry a count the layer does not expose) with wrappers that record a
span — name, start, end, parent, op id — whenever the calling thread is
inside a traced op, and pass straight through otherwise. Spans stay in
memory and are written out once, at the end of the run.

Module attributes are replaced, so a caller that looks a function up at
call time sees the wrapper. ``registry`` imports ``read_source`` by
name, so its copy is wrapped as well; every other call site here
imports late, inside the calling function, or calls through its own
module's globals.

The Spark side of an op is read after the op ends: each traced op runs
under its own job group (a thread-local property, so two clients do not
mix), and its jobs and stages come from the JVM status store, which
works with the UI disabled. Planning time comes from the
``QueryPlanningTracker`` of each DataFrame the op compiled.
"""

from __future__ import annotations

import collections
import functools
import itertools
import json
import os
import threading
import time
from contextlib import contextmanager

class Op:
    """One benchmark operation: its spans, counters and Spark readings."""

    __slots__ = ("op_id", "cls", "traced", "start", "end", "spans", "counts",
                 "dfs", "commits", "spark", "_stack", "_ids")

    def __init__(self, op_id: int, cls: str, traced: bool):
        self.op_id = op_id
        self.cls = cls
        self.traced = traced
        self.start = self.end = 0.0
        #: (span_id, parent_id, name, start, end); span 0 is the op itself
        self.spans: list[tuple[int, int, str, float, float]] = []
        self.counts: collections.Counter = collections.Counter()
        self.dfs: list = []
        self.commits: list[tuple[str, int]] = []
        self.spark: dict[str, float] = {}
        #: open spans, innermost last: (span_id, name)
        self._stack: list[tuple[int, str]] = [(0, "")]
        self._ids = itertools.count(1)

    @property
    def wall(self) -> float:
        return self.end - self.start

    def self_times(self) -> tuple[dict[str, float], float]:
        """Self time per span name, and the op's own untraced time (its
        wall minus its top-level spans). A span's self time is its
        duration minus the time its direct children cover."""
        child_time: collections.Counter = collections.Counter()
        for _sid, parent, _name, s, e in self.spans:
            child_time[parent] += e - s
        names: collections.Counter = collections.Counter()
        for sid, _parent, name, s, e in self.spans:
            names[name] += (e - s) - child_time[sid]
        return dict(names), self.wall - child_time[0]


class Tracer:
    """Holds finished ops; one instance per run."""

    def __init__(self):
        self._local = threading.local()
        self._lock = threading.Lock()
        self.ops: list[Op] = []

    def current(self) -> Op | None:
        op = getattr(self._local, "op", None)
        return op if op is not None and op.traced else None

    @contextmanager
    def op(self, op_id: int, cls: str, traced: bool):
        op = Op(op_id, cls, traced)
        self._local.op = op
        try:
            op.start = time.perf_counter()
            yield op
            op.end = time.perf_counter()
        finally:
            self._local.op = None
        with self._lock:
            self.ops.append(op)

    @contextmanager
    def span(self, name: str):
        op = self.current()
        if op is None:
            yield None
            return
        sid = next(op._ids)
        parent = op._stack[-1][0]
        op._stack.append((sid, name))
        start = time.perf_counter()
        try:
            yield op
        finally:
            op.spans.append((sid, parent, name, start, time.perf_counter()))
            op._stack.pop()

    def count(self, key: str, n: float = 1) -> None:
        op = self.current()
        if op is not None:
            op.counts[key] += n

    def dump(self, path: str) -> None:
        """Write every traced op's spans as one JSON line each."""
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for op in self.ops:
                if op.traced:
                    f.write(json.dumps({
                        "op": op.op_id, "cls": op.cls, "wall": op.wall,
                        "spans": [[sid, p, n, s - op.start, e - op.start]
                                  for sid, p, n, s, e in op.spans],
                        "counts": dict(op.counts), "spark": op.spark,
                    }) + "\n")


def _wrap(tracer: Tracer, fn, name: str, after=None):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        with tracer.span(name) as op:
            out = fn(*args, **kwargs)
            if op is not None and after is not None:
                after(op, args, kwargs, out)
            return out

    wrapper.__wrapped_by_perfbench__ = True
    return wrapper


def _wrap_gen(tracer: Tracer, fn, name: str, per_item=None):
    """Generators do their work inside ``next``: time each step as a span
    (the caller's op is looked up per step, since the consumer may drain
    the generator after the call that created it returned)."""

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        it = fn(*args, **kwargs)
        while True:
            with tracer.span(name) as op:
                try:
                    item = next(it)
                except StopIteration:
                    return
                if op is not None and per_item is not None:
                    per_item(op, item)
            yield item

    return wrapper


def install(tracer: Tracer) -> None:
    """Wrap the layer boundaries. Idempotent per process."""
    from lakeapi_spark import registry, serialize
    from lakeapi_spark.operators import search
    from lakeapi_spark.sources import delta, fs, readers
    from lakeapi_spark.sql import endpoint

    if getattr(registry.compile_request, "__wrapped_by_perfbench__", False):
        return

    def keep_df(op, _a, _k, df):
        op.dfs.append(df)

    registry.compile_request = _wrap(tracer, registry.compile_request,
                                     "registry.compile_request", keep_df)
    registry.serve_request = _wrap(tracer, registry.serve_request, "registry.serve_request")
    registry.TableRegistry.dataframe = _wrap(
        tracer, registry.TableRegistry.dataframe, "registry.dataframe",
        lambda op, *_: op.counts.update(["registry.dataframe_calls"]))

    schema = registry.TableRegistry.schema

    @functools.wraps(schema)
    def schema_wrapper(self, name):
        op = tracer.current()
        before = op.counts["registry.dataframe_calls"] if op is not None else 0
        with tracer.span("registry.schema"):
            out = schema(self, name)
        if op is not None:
            op.counts["registry.schema_calls"] += 1
            # a miss re-derives the schema through dataframe()
            if op.counts["registry.dataframe_calls"] == before:
                op.counts["registry.schema_hits"] += 1
        return out

    registry.TableRegistry.schema = schema_wrapper

    read_source = _wrap(tracer, readers.read_source, "sources.read_source")
    readers.read_source = read_source
    registry.read_source = read_source

    def snapshot_versions(op, _a, _k, snap):
        op.counts["sources.delta_snapshots"] += 1
        op.counts["sources.delta_log_versions"] += snap.version + 1

    delta.delta_snapshot = _wrap(tracer, delta.delta_snapshot, "sources.delta_snapshot",
                                 snapshot_versions)

    files_to_df = delta._files_to_df

    @functools.wraps(files_to_df)
    def files_wrapper(spark, base, snap, files, *a, **k):
        op = tracer.current()
        if op is not None:
            op.counts["sources.delta_files_total"] += len(snap.files)
            op.counts["sources.delta_files_kept"] += len(files)
        with tracer.span("sources.delta_files"):
            return files_to_df(spark, base, snap, files, *a, **k)

    delta._files_to_df = files_wrapper

    def listing(op, *_):
        op.counts["sources.fs_listings"] += 1

    fs.latest_modification = _wrap(tracer, fs.latest_modification, "sources.fs_listing", listing)
    fs.list_children = _wrap(tracer, fs.list_children, "sources.fs_listing", listing)

    search.bm25_index_for = _wrap(tracer, search.bm25_index_for, "operators.bm25_index",
                                  lambda op, *_: op.counts.update(["operators.bm25_requests"]))
    search.build_bm25_index = _wrap(tracer, search.build_bm25_index, "operators.bm25_build",
                                    lambda op, *_: op.counts.update(["operators.bm25_builds"]))

    endpoint.validate_sql = _wrap(tracer, endpoint.validate_sql, "sql.validate")
    endpoint.run_sql = _wrap(tracer, endpoint.run_sql, "sql.run_sql", keep_df)

    def commit(op, args, kwargs, version):
        path = kwargs.get("path", args[1] if len(args) > 1 else None)
        op.commits.append((path, version))

    delta.write_delta = _wrap(tracer, delta.write_delta, "delta.write_delta", commit)

    serialize.serialize = _wrap(tracer, serialize.serialize, "serialize.serialize")
    serialize.stream_serialize = _wrap_gen(tracer, serialize.stream_serialize,
                                           "serialize.stream_serialize")
    serialize._spilled_batches = _wrap_gen(
        tracer, serialize._spilled_batches, "serialize.spill",
        lambda op, batch: op.counts.update({"serialize.rows_out": batch.num_rows}))

    from pyspark.sql.classic.dataframe import DataFrame

    to_arrow = DataFrame.toArrow

    @functools.wraps(to_arrow)
    def to_arrow_wrapper(self, *a, **k):
        op = tracer.current()
        # only the transfer a serializer asks for belongs to serialize;
        # a builder's own toArrow stays in its caller's layer
        if op is None or not op._stack[-1][1].startswith("serialize."):
            return to_arrow(self, *a, **k)
        with tracer.span("serialize.to_arrow"):
            tab = to_arrow(self, *a, **k)
        op.counts["serialize.rows_out"] += tab.num_rows
        return tab

    DataFrame.toArrow = to_arrow_wrapper


def read_spark(spark, op: Op, group: str) -> None:
    """Jobs, tasks, stage times and planning time of one finished op.
    Waits for the listener bus first: the status store is fed
    asynchronously, and a job's end may still be queued when the
    action returns."""
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty(10_000)
    store = jsc.statusStore()
    ids = spark.sparkContext.statusTracker().getJobIdsForGroup(group)
    intervals, stages, tasks = [], set(), 0
    build_end = op.counts.pop("queries.build_end_ms", None)
    build_jobs = 0
    for j in ids:
        jd = store.job(j)
        sub, done = jd.submissionTime(), jd.completionTime()
        if sub.isDefined():
            start = sub.get().getTime()
            end = done.get().getTime() if done.isDefined() else start
            intervals.append((start, end))
            if build_end is not None and start <= build_end:
                build_jobs += 1
        tasks += jd.numCompletedTasks()
        stages.update(int(s) for s in jd.stageIds().mkString(",").split(",") if s)
    run_ms = shuffle = 0
    for s in stages:
        sd = store.lastStageAttempt(s)
        run_ms += sd.executorRunTime()
        shuffle += sd.shuffleWriteBytes()
    plan_ms = 0
    for df in op.dfs:
        phases = df._jdf.queryExecution().tracker().phases()
        for name in ("analysis", "optimization", "planning"):
            p = phases.get(name)
            if p.isDefined():
                plan_ms += p.get().durationMs()
    op.dfs.clear()
    op.spark = {
        "jobs": len(ids), "tasks": tasks, "job_wall_s": _union(intervals) / 1000,
        "executor_run_s": run_ms / 1000, "shuffle_bytes": shuffle, "plan_s": plan_ms / 1000,
    }
    if build_end is not None:
        op.spark["build_jobs"] = build_jobs
    for path, version in op.commits:
        with open(os.path.join(path, "_delta_log", f"{version:020d}.json")) as f:
            op.counts["delta.files_added"] += sum('"add"' in line for line in f)


def _union(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end] intervals (jobs overlap)."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def median(values) -> float:
    values = sorted(values)
    if not values:
        return 0.0
    mid = len(values) // 2
    return values[mid] if len(values) % 2 else (values[mid - 1] + values[mid]) / 2


def layer_metrics(ops: list[Op]) -> tuple[dict[str, float], list[str]]:
    """Per-layer metrics of the traced ops, and the ops whose layer self
    times plus untraced time do not add up to their wall time.

    Times are medians over the ops in which the span occurred (0 when
    none did); ``_per_op`` counts are means over all traced ops; ratios
    are totals over totals (0 when the base is 0)."""
    traced = [op for op in ops if op.traced]
    n = max(len(traced), 1)
    bad = []
    untraced = []
    incl: dict[str, list[float]] = collections.defaultdict(list)
    selfs: dict[str, list[float]] = collections.defaultdict(list)
    for op in traced:
        names, rest = op.self_times()
        layers = collections.Counter()
        for name, t in names.items():
            layers[name.split(".", 1)[0]] += t
        if abs(sum(layers.values()) + rest - op.wall) > 1e-6:
            bad.append(f"op {op.op_id} ({op.cls})")
        untraced.append(rest)
        for layer, t in layers.items():
            selfs[layer].append(t)
        for name, t in names.items():
            selfs[name].append(t)
        per_name = collections.Counter()
        for _sid, _p, name, s, e in op.spans:
            per_name[name] += e - s
        for name, t in per_name.items():
            incl[name].append(t)

    def total(key):
        return sum(op.counts[key] for op in traced)

    def ratio(num, den):
        return num / den if den else 0.0

    def spark_vals(key):
        return [op.spark[key] for op in traced if op.spark.get(key)]

    # nested spans of one name (a listing inside a listing) never occur
    # here, so inclusive per-name sums are the time spent in that call
    encode = [
        sum(t for name, t in op.self_times()[0].items()
            if name in ("serialize.serialize", "serialize.stream_serialize"))
        for op in traced
        if any(n in ("serialize.serialize", "serialize.stream_serialize") for _i, _p, n, _s, _e in op.spans)
    ]
    # tracing cost: per class, traced median minus untraced median
    overhead = []
    for cls in {op.cls for op in ops}:
        on = [op.wall for op in traced if op.cls == cls]
        off = [op.wall for op in ops if op.cls == cls and not op.traced]
        if on and off:
            overhead.append(median(on) - median(off))
    m = {
        "registry.compile_s": median(selfs["registry"]),
        "registry.schema_calls_per_op": total("registry.schema_calls") / n,
        "registry.schema_hit_ratio": ratio(total("registry.schema_hits"), total("registry.schema_calls")),
        "sources.fs_listings_per_op": total("sources.fs_listings") / n,
        "sources.read_source_s": median(incl["sources.read_source"]),
        "sources.delta_snapshot_s": median(incl["sources.delta_snapshot"]),
        "sources.delta_log_versions": ratio(total("sources.delta_log_versions"),
                                            total("sources.delta_snapshots")),
        "sources.delta_files_kept_ratio": ratio(total("sources.delta_files_kept"),
                                                total("sources.delta_files_total")),
        "operators.bm25_hit_ratio": ratio(total("operators.bm25_requests") - total("operators.bm25_builds"),
                                          total("operators.bm25_requests")),
        "operators.bm25_build_s": median(incl["operators.bm25_build"]),
        "sql.validate_s": median(incl["sql.validate"]),
        "spark.plan_s": median(spark_vals("plan_s")),
        "spark.jobs_per_op": sum(op.spark.get("jobs", 0) for op in traced) / n,
        "spark.tasks_per_op": sum(op.spark.get("tasks", 0) for op in traced) / n,
        "spark.job_wall_s": median(spark_vals("job_wall_s")),
        "spark.executor_run_s": median(spark_vals("executor_run_s")),
        "spark.shuffle_bytes": sum(op.spark.get("shuffle_bytes", 0) for op in traced) / n,
        "serialize.to_arrow_s": median(incl["serialize.to_arrow"]),
        "serialize.encode_s": median(encode),
        "serialize.spill_s": median(incl["serialize.spill"]),
        "serialize.bytes_out": total("serialize.bytes_out") / n,
        "serialize.rows_out": total("serialize.rows_out") / n,
        "queries.build_s": median(incl["queries.build"]),
        "queries.build_jobs": ratio(sum(op.spark.get("build_jobs", 0) for op in traced),
                                    sum("build_jobs" in op.spark for op in traced)),
        "queries.action_s": median(incl["queries.action"]),
        "delta.commit_s": median(incl["delta.write_delta"]),
        "delta.files_added": ratio(total("delta.files_added"), len(incl["delta.write_delta"])),
        "trace.untraced_s": median(untraced),
        "trace.overhead_s": sum(overhead) / len(overhead) if overhead else 0.0,
    }
    return m, bad
