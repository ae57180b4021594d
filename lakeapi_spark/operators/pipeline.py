"""The config-endpoint query pipeline (SURVEY.md §2 query shape, §3.1).

Reference shape, assembled in endpoint/endpoint.py:213-311:

    scan(table) -> [pre-filter pushdown] -> WHERE(param filters)
    -> [search / nearby augment] -> project/alias/jsonify -> DISTINCT?
    -> ORDER BY -> LIMIT/OFFSET -> sink(format)

Here the pipeline is a declarative ``QueryRequest`` applied to a
DataFrame. We do NOT hand-push filters into the scan the way the
reference does (endpoint.py:222-247) — expressing them as ``.filter``
before the projection lets Catalyst do predicate pushdown, column
pruning, and limit pushdown on its own; ``tests/test_plans.py`` asserts
the pushdown actually shows up in the physical plan.

Hidden columns (``_`` prefix, ``*_md5_prefix_*``, ``*_md5_mod_*``,
``*_xxhash64_prefix_*``) are excluded from output like the reference
does everywhere (core/config.py:59-65, endpoint.py:79-81).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from lakeapi_spark.operators.filters import and_all, combi_filter, params_filter

_HIDDEN_RE = re.compile(r"(^_)|(_md5_prefix_\d+$)|(_md5_mod_\d+$)|(_xxhash64_prefix_\d+$)")


def is_hidden_col(name: str) -> bool:
    """Ref core/config.py:59-65 should_hide_col_name."""
    return bool(_HIDDEN_RE.search(name))


@dataclass
class QueryRequest:
    """One config-endpoint request, engine-independent.

    - filters: [(column, op, value), ...] AND'd (datasource.py:387-397)
    - combi:   [{col: value, ...}, ...] OR-of-ANDs (datasource.py:400-423)
    - select:  projection with optional aliases [(name, alias|None), ...]
               (request ``$select`` intersect, endpoint.py:255-283)
    - exclude: columns dropped from output (config ``exclude``)
    - distinct: ``$distinct`` flag (endpoint.py:172-177,285-287)
    - sortby:  [(column, "asc"|"desc"), ...] (config.py:263-291)
    - limit/offset: paging (endpoint.py:289-293); limit=None -> no limit
      (the service layer maps limit=-1 + allow_get_all_pages to None)
    - jsonify_complex: lower struct/array/map columns to JSON strings
      (df_base.py:317-327)
    """

    filters: list[tuple[str, str, Any]] = field(default_factory=list)
    combi: list[dict[str, Any]] = field(default_factory=list)
    select: list[tuple[str, str | None]] | None = None
    exclude: list[str] = field(default_factory=list)
    distinct: bool = False
    sortby: list[tuple[str, str]] = field(default_factory=list)
    limit: int | None = None
    offset: int | None = None
    jsonify_complex: bool = False


def _sort_cols(sortby: list[tuple[str, str]]) -> list[Column]:
    cols = []
    for name, direction in sortby:
        c = F.col(name)
        # match the DuckDB oracle's default_null_order='nulls_first'
        # for BOTH directions (ref df_duckdb.py:496)
        cols.append(c.desc_nulls_first() if direction.lower() == "desc" else c.asc_nulls_first())
    return cols


def _is_complex(dtype: T.DataType) -> bool:
    return isinstance(dtype, (T.StructType, T.ArrayType, T.MapType))


def apply_query(df: DataFrame, req: QueryRequest) -> DataFrame:
    """Compile the request onto ``df`` and return the (lazy) result."""
    cond = and_all([params_filter(req.filters), combi_filter(req.combi)])
    if cond is not None:
        df = df.filter(cond)

    # projection: explicit select (minus hidden/excluded) or all visible cols
    excluded = set(req.exclude)
    if req.select is not None:
        cols = [
            F.col(name).alias(alias) if alias else F.col(name)
            for name, alias in req.select
            if not is_hidden_col(name) and name not in excluded
        ]
    else:
        cols = [
            F.col(f.name)
            for f in df.schema.fields
            if not is_hidden_col(f.name) and f.name not in excluded
        ]
    df = df.select(*cols)

    if req.jsonify_complex:
        df = df.select(
            *[
                F.to_json(F.col(f.name)).alias(f.name) if _is_complex(f.dataType) else F.col(f.name)
                for f in df.schema.fields
            ]
        )

    if req.distinct:
        df = df.distinct()
    if req.sortby:
        df = df.orderBy(*_sort_cols(req.sortby))
    if req.offset:
        df = df.offset(req.offset)
    if req.limit is not None and req.limit >= 0:
        df = df.limit(req.limit)
    return df


def paged(df: DataFrame, order: list[tuple[str, str]], limit: int, offset: int) -> DataFrame:
    """Deterministic paging helper. In a distributed engine OFFSET without a
    total order is non-deterministic (SURVEY §7 risk 2) — this variant
    requires a sort spec and appends a monotonic tiebreak so rows with tied
    sort keys page consistently within a query, then uses native
    offset/limit which Spark turns into a single-partition take after the
    sort. (The tiebreak is stable for a fixed scan partitioning — i.e.
    within one query and across reruns over unchanged files — not across
    data layout changes; callers needing cross-version stability must sort
    on a unique key.)"""
    return (
        df.orderBy(*_sort_cols(order), F.monotonically_increasing_id())
        .offset(offset)
        .limit(limit)
    )


def topk(df: DataFrame, order: list[tuple[str, str]], k: int) -> DataFrame:
    """Top-k: orderBy().limit(k) compiles to TakeOrderedAndProject —
    a per-partition heap + driver merge, no full sort shuffle. This is the
    scale path for 'first page of a big sorted result'."""
    return df.orderBy(*_sort_cols(order)).limit(k)


def _partial_topk_kernel_factory(k: int, n_group: int):
    """Build the mapInPandas generator for :func:`topk_per_group`'s
    phase 1: input batches arrive group-contiguous (the partition is
    sorted by group, then rank order), so "first k rows per group"
    is a carry-one-counter scan — vectorized as a cumulative count
    over each batch's group run-lengths plus the carried (last group,
    emitted so far) pair. Bounded memory: one counter, never a
    per-group pandas materialization."""

    def kernel(batches):
        import numpy as np

        last_key = None
        emitted = 0
        for pdf in batches:
            if not len(pdf):
                continue
            keys = pdf.iloc[:, :n_group].astype(object)
            # group run id within the batch (change points over the
            # composite key tuple)
            tup = list(map(tuple, keys.itertuples(index=False, name=None)))
            arr = np.empty(len(tup), dtype=object)
            arr[:] = tup
            change = np.ones(len(arr), dtype=bool)
            change[1:] = arr[1:] != arr[:-1]
            run = np.cumsum(change) - 1
            # rank within run
            idx = np.arange(len(arr))
            run_start = np.zeros(len(arr), dtype=np.int64)
            starts = idx[change]
            run_start[change] = starts
            run_start = np.maximum.accumulate(run_start)
            rank = idx - run_start
            # carry: the first run continues the previous batch's group
            if last_key is not None and len(arr) and arr[0] == last_key:
                rank[run == 0] += emitted
            keep = rank < k
            last_key = arr[-1]
            emitted = int(rank[-1]) + 1
            if keep.any():
                yield pdf.loc[keep]

    return kernel


def topk_per_group(
    df: DataFrame,
    group_cols: list[str],
    order_col: str,
    k: int,
    tiebreak_col: str,
    descending: bool = True,
) -> DataFrame:
    """EXACT top-k rows per group WITHOUT a per-group global window —
    the two-phase pattern every "top products per region" query needs
    at 100 TB. Returns the input columns plus ``rank`` (1-based).

    A window ``row_number() OVER (PARTITION BY group ORDER BY ...)``
    shuffles and SORTS the full fact table by group. Instead:

    - Phase 1 (zero shuffle): ``sortWithinPartitions(group, order)``
      + an Arrow-batch scan keeping the first k rows of each group
      run per partition. Per-partition top-k is a superset of global
      top-k, so this only discards rows that cannot win; output is
      at most k * n_partitions rows per group.
    - Phase 2 (one small shuffle): groupBy(group) collects the
      survivors (bounded: k per partition), array_sorts, slices k,
      posexplodes with the final rank. No WindowExec anywhere —
      ``tests/test_plans.py`` asserts it.

    Exact iff (order_col, tiebreak_col) is a total order per group
    (tiebreak ascending breaks order_col ties both phases the same
    way). NULL order values sort last and cannot displace winners;
    rows with NULL in ``order_col`` are dropped (a NULL can never be
    a top-k winner under a total order). For float/double order
    columns NaN rows are dropped too: Spark sorts NaN *first* in a
    descending sort (phase 1) but the phase-2 struct key negates the
    value, and ``-NaN`` is still NaN which ``array_sort`` places
    *last* — the two phases would disagree and true winners discarded
    in phase 1 could never be recovered. NaN, like NULL, is not an
    orderable value under this contract."""
    from pyspark import cloudpickle as _cp
    import sys as _sys

    if k <= 0:
        raise ValueError(f"k must be positive: {k}")
    _cp.register_pickle_by_value(_sys.modules[__name__])

    df = df.filter(F.col(order_col).isNotNull())
    order_dtype = dict(df.dtypes)[order_col]
    if order_dtype in ("float", "double"):
        # phase 1 (desc sort: NaN first) and phase 2 (array_sort of the
        # negated key: NaN last) order NaN differently — drop it so both
        # phases see the same total order (see docstring).
        df = df.filter(~F.isnan(F.col(order_col)))
    payload_order = [c for c in df.columns if c not in group_cols]
    # group cols FIRST: the phase-1 kernel reads the leading n_group
    # columns as the run key
    df = df.select(*group_cols, *payload_order)
    order_expr = F.col(order_col).desc() if descending else F.col(order_col).asc()
    staged = df.sortWithinPartitions(
        *[F.col(c) for c in group_cols], order_expr, F.col(tiebreak_col).asc()
    )
    survivors = staged.mapInPandas(
        _partial_topk_kernel_factory(k, len(group_cols)),
        schema=staged.schema,
    )
    payload_cols = [c for c in df.columns if c not in group_cols]
    sort_key = F.struct(
        (-F.col(order_col)).alias("o") if descending else F.col(order_col).alias("o"),
        F.col(tiebreak_col).alias("t"),
        *[F.col(c).alias(c) for c in payload_cols if c != tiebreak_col],
    )
    agg = survivors.groupBy(*group_cols).agg(
        F.slice(F.array_sort(F.collect_list(sort_key)), 1, k).alias("__top")
    )
    exploded = agg.select(
        *group_cols, F.posexplode("__top").alias("__pos", "__row")
    )
    out = exploded.select(
        *group_cols,
        *[
            (
                (-F.col("__row.o")).alias(order_col)
                if descending
                else F.col("__row.o").alias(order_col)
            )
            if c == order_col
            else F.col(f"__row.{'t' if c == tiebreak_col else c}").alias(c)
            for c in payload_cols
        ],
        (F.col("__pos") + 1).cast("long").alias("rank"),
    )
    return out


def ranked_topk(
    df: DataFrame,
    order: list[Column],
    k: int,
    rank_col: str = "rank",
) -> DataFrame:
    """Global EXACT top-k + 1-based rank WITHOUT ranking the full
    relation: ``orderBy(...).limit(k)`` compiles to
    TakeOrderedAndProject (a per-partition k-row heap merged on the
    driver — no global sort, no single-partition shuffle of the
    input), and the ``row_number`` window then runs over the k-row
    result only, so the one single-partition WindowExec in the plan
    has a CONSTANT input bound of k rows at any corpus size.

    Identical output to ``row_number().over(Window.orderBy(order))``
    followed by ``filter(rank <= k)`` whenever ``order`` is a total
    order (callers append a unique tiebreak column, same as every
    window in this repo). Use this instead of rank-then-filter any
    time the ranked relation's cardinality grows with the data
    (per-token, per-part, per-node, per-pair aggregates): those are
    "contracted" relations, but contraction is linear in key
    cardinality, and at 100x the keys the global window becomes the
    exact single-partition sort :func:`topk_per_group` was built to
    kill (VERDICT r11 hygiene item #2)."""
    if k <= 0:
        raise ValueError(f"k must be positive: {k}")
    top = df.orderBy(*order).limit(k)
    return top.withColumn(rank_col, F.row_number().over(Window.orderBy(*order)))
