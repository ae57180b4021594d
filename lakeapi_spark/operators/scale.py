"""Scale/parallelism helpers shared by expression-heavy operators.

Spark sizes scan tasks by bytes (spark.sql.files.maxPartitionBytes), which
is right for IO-bound plans but wrong for CPU-bound derivations: a 600 KiB
documents file is one task, so tokenize/shingle/hash pipelines would run on
one core no matter how many executors exist. At 100 TB the file count makes
this moot; at any scale, the guard below is a no-op once the scan already
has enough splits.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame

#: per-task source-byte budget for tokenize/n-gram-heavy stages — text
#: expands ~10-50x through tokenize+gram explode, so tasks are sized on
#: far fewer source bytes than an IO-bound scan would use
TEXT_TASK_BYTES = 64 * 1024

#: per-task budget for the minhash signature path: on top of
#: tokenize+shingle, every shingle pays an md5 fold plus 128 universal-
#: hash permutations in the bucket kernel — roughly an order of
#: magnitude more compute per source byte than a plain token stage
#: (measured at sf0.1: the shingle+hash stage alone is 160 ms per 64 KiB
#: task, far above scheduling overhead, and the whole pipeline ran at
#: 4-task width on 32 cores). The smaller budget only changes behavior
#: for small inputs — fan_out still clamps at the session parallelism,
#: and on many-file cluster inputs it is a no-op.
MINHASH_TASK_BYTES = 8 * 1024

#: per-task budget for the BM25 index build: tokenize + token explode +
#: per-(doc, token) hash aggregation — heavier per source byte than a
#: plain token scan (the exploded stream is aggregated in-stage since
#: the r13 one-exchange build). Interleaved A/B at sf0.1 (4 rounds):
#: search_bm25_score 0.671 -> 0.604 s min (4/4 wins) vs the 64 KiB
#: text budget; rrf/hybrid within noise. Byte-based, so it scales away
#: on real inputs exactly like TEXT_TASK_BYTES.
BM25_TASK_BYTES = 16 * 1024


def lit_array(vals, kind: str):
    """K-element literal array column built as ONE parsed ``F.expr``
    string. ``F.array(*[F.lit(v) for v in vals])`` costs ``len(vals)+1``
    py4j round-trips at ~1-3 ms each (measured r13/r14: a 64-element
    query-vector literal is ~0.15 s of pure driver time, a 128-element
    permutation table ~0.3 s); one parsed SQL string is one round-trip
    regardless of size (guide §5 — the driver is part of the query
    path).

    ``kind``: ``"long"`` (``NL`` literals), ``"double"`` (``reprD`` —
    repr() round-trips every finite double exactly through the SQL
    parser's parseDouble; non-finite values are rejected), or
    ``"string"`` (single-quoted, quote/backslash escaped). The column
    is value- and type-identical to the F.lit formulation (asserted in
    tests/test_operators_unit.py)."""
    from pyspark.sql import functions as F

    vals = list(vals)
    if not vals:
        raise ValueError("lit_array needs at least one element (type anchor)")
    if kind == "long":
        body = ",".join(f"{int(v)}L" for v in vals)
    elif kind == "double":
        items = []
        for v in vals:
            f = float(v)
            if not math.isfinite(f):
                raise ValueError(f"non-finite double literal: {v!r}")
            items.append(f"{f!r}D")
        body = ",".join(items)
    elif kind == "string":
        body = ",".join(
            "'" + str(v).replace("\\", "\\\\").replace("'", "''") + "'" for v in vals
        )
    else:  # pragma: no cover - programmer error
        raise ValueError(f"unknown literal kind: {kind}")
    return F.expr(f"array({body})")


def local_df(spark, rows: list[tuple], columns: list[str], schema: str | None = None):
    """Small driver-side local relation, shipped as ARROW.

    A tuple-list ``createDataFrame`` routes rows through pickled
    ``parallelize`` slices: every evaluation spins Python-fed tasks
    across defaultParallelism partitions (~0.3 s of worker churn on
    local[32] for even a 4-row relation, multi-second if a consumer
    coalesces those slices into one task). The pandas/Arrow path
    evaluates JVM-side. Use for constant dimension tables in query
    paths; rows must be plain scalars (no None-typed columns)."""
    import pandas as pd

    pdf = pd.DataFrame(rows, columns=columns)
    return spark.createDataFrame(pdf, schema) if schema else spark.createDataFrame(pdf)


def fan_out(
    df: DataFrame,
    min_partitions: int | None = None,
    per_partition_bytes: int | None = None,
    by: list | None = None,
) -> DataFrame:
    """Round-robin repartition ONLY when the input has fewer partitions
    than the session's default parallelism. Narrow inputs (small files,
    coalesced shuffles) get spread across cores before CPU-heavy
    expression stages; already-parallel inputs pass through untouched —
    no shuffle is added on a real cluster reading many files.

    ``per_partition_bytes`` additionally CAPS the fan-out by input size
    (Catalyst's free ``sizeInBytes`` estimate — no job): splitting a
    600 KiB table across 32 cores makes 150-row tasks whose scheduling
    overhead exceeds the compute they parallelize (measured: 5-gram
    contamination probe at sf0.1 is 0.79 s at ~10 source-sized tasks vs
    1.17 s at 32). The cap scales away on real inputs — a 1 GiB narrow
    file at 64 KiB/task asks for ~16k tasks and clamps back to the
    session parallelism.

    ``by`` (column names/Columns) switches the exchange from
    round-robin to HASH partitioning on those keys — same spread for a
    near-unique key, but the output carries ``HashPartitioning`` that
    later equi-joins/aggregations on the same key reuse with no new
    exchange (guide §2.4). Use when the fanned-out relation is
    persisted and then joined by that key. With ``by`` set the hash
    exchange happens even when the input is already wide enough
    (ADVICE r13: on many-file cluster corpora the silent no-op dropped
    the HashPartitioning the downstream joins rely on — the exchange is
    not wasted there, it replaces the one those joins would insert);
    the width then never shrinks below the input's."""
    spark = df.sparkSession
    target = min_partitions or spark.sparkContext.defaultParallelism
    if per_partition_bytes:
        try:
            sz = size_estimate(df)
            target = max(2, min(target, math.ceil(sz / per_partition_bytes)))
        except Exception:  # noqa: BLE001 - connect mode / stats missing
            pass
    cur = plan_partitions(df)
    if cur >= target:
        return df.repartition(cur, *by) if by else df
    return df.repartition(target, *by) if by else df.repartition(target)


def size_estimate(df: DataFrame) -> int:
    """Catalyst's ``sizeInBytes`` estimate of ``df``: no job."""
    return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())


def plan_partitions(df: DataFrame) -> int:
    """Partition count of ``df``'s initial physical plan — the same
    number ``.rdd.getNumPartitions()`` reports, WITHOUT building the
    RDD DAG: the `.rdd` hop measured 50-110 ms of extra driver work
    per call on a fresh plan (r13, guide §5: the driver is part of the
    query path), while reading ``executedPlan().outputPartitioning()``
    is ~19 ms and shares its QueryExecution (and thus the optimization
    pass) with any sizeInBytes probe on the same DataFrame. Falls back
    to the RDD probe when the partitioning is unknown/zero (local
    relations, connect mode)."""
    n = 0
    try:
        n = int(
            df._jdf.queryExecution()
            .executedPlan()
            .outputPartitioning()
            .numPartitions()
        )
    except Exception:  # noqa: BLE001 - connect mode / exotic plan
        pass
    return n if n > 0 else df.rdd.getNumPartitions()
