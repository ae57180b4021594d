"""Derived-partition pruning — the reference's signature trick (§2.12).

The reference stores tables partitioned by *derived* columns
(``col_md5_prefix_N`` = first N hex chars of md5(value),
``col_md5_mod_N`` = str(int(md5(value),16) % N), ``col_prefix_N`` =
value[:N]) and, at request time, rewrites equality/in filters on the
*logical* column into filters on the derived *partition* column
(core/datasource.py:283-381, core/partition_utils.py:21-56).

Spark mapping: the derivation is pure Python on literals — we emit a
normal ``.filter(partition_col == lit)`` next to the logical filter and
Catalyst + the parquet/delta source prune partitions automatically
(visible as PartitionFilters in the scan node; asserted in
tests/test_partition.py).

Supported source ops for rewriting: ``=``, ``in`` for hash-derived
columns (hashes aren't order-preserving); direct partition columns
additionally pass through ``<=/>=/not in`` (ref op gate
datasource.py:288,297-298).
"""

from __future__ import annotations

import hashlib
import re
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from lakeapi_spark.operators.filters import and_all, filter_expr

_DERIVED_RE = re.compile(r"^(?P<base>.+?)_(?P<kind>md5_prefix|md5_mod|prefix)_(?P<n>\d+)$")


def md5_prefix(value: Any, n: int) -> str:
    """Ref datasource.py:317-328."""
    return hashlib.md5(str(value).encode("utf-8")).hexdigest()[:n]


def md5_mod(value: Any, n: int) -> str:
    """Ref datasource.py:329-342 — note: stringified decimal remainder."""
    return str(int(hashlib.md5(str(value).encode("utf-8")).hexdigest(), 16) % n)


def plain_prefix(value: Any, n: int) -> str:
    """Ref datasource.py:344-353."""
    return str(value)[:n]


_DERIVERS = {"md5_prefix": md5_prefix, "md5_mod": md5_mod, "prefix": plain_prefix}


def partition_pruning_filters(
    partition_cols: list[str],
    filters: list[tuple[str, str, Any]],
) -> list[Column]:
    """Compute extra partition-column predicates implied by the request's
    logical filters. The caller ANDs these onto the plan *in addition to*
    the logical filters — semantics are unchanged, the scan just skips
    non-matching partitions.
    """
    extra: list[Column] = []
    derived_by_base: dict[str, tuple[str, str, int]] = {}
    direct = set()
    for pc in partition_cols:
        m = _DERIVED_RE.match(pc)
        if m:
            derived_by_base[m.group("base")] = (pc, m.group("kind"), int(m.group("n")))
        else:
            direct.add(pc)

    for col, op, value in filters:
        values = list(value) if isinstance(value, (list, tuple, set)) else [value]
        if col in derived_by_base and op in ("=", "in"):
            pc, kind, n = derived_by_base[col]
            derived = [_DERIVERS[kind](v, n) for v in values]
            e = filter_expr(pc, "in" if op == "in" else "=", derived if op == "in" else derived[0])
            if e is not None:
                extra.append(e)
        elif col in direct and op in ("=", "in", "not in", "<=", ">="):
            # direct partition columns: Catalyst already prunes on the
            # logical filter itself; nothing to add.
            continue
    return extra


def apply_partition_pruning(
    df: DataFrame,
    partition_cols: list[str],
    filters: list[tuple[str, str, Any]],
) -> DataFrame:
    cond = and_all(partition_pruning_filters(partition_cols, filters))
    return df.filter(cond) if cond is not None else df


def with_derived_partition_col(df: DataFrame, base_col: str, kind: str, n: int) -> DataFrame:
    """Write-side helper: add the derived column so a table can be
    *stored* partitioned by it (what the reference's fixtures do,
    tests/create_test_data.py:221-255). Uses built-in F.md5 — stays in
    whole-stage codegen, no Python in the write path."""
    name = f"{base_col}_{kind}_{n}"
    s = F.col(base_col).cast("string")
    if kind == "md5_prefix":
        expr = F.substring(F.md5(s), 1, n)
    elif kind == "md5_mod":
        # int(md5_hex, 16) % n on a 128-bit value: only the low bits matter
        # for mod arithmetic IF n divides a power of 16 — it generally
        # doesn't, so compute the full-width mod via decimal string math in
        # steps: conv() is 64-bit-lossy. We reduce the hex digits left to
        # right: mod = (mod*16 + digit) % n, expressible as aggregate().
        digits = F.split(F.regexp_replace(F.md5(s), "(.)", "$1,"), ",")
        expr = F.aggregate(
            F.slice(digits, 1, 32),
            F.lit(0).cast("long"),
            lambda acc, d: (acc * 16 + F.conv(d, 16, 10).cast("long")) % n,
        ).cast("string")
    elif kind == "prefix":
        expr = F.substring(s, 1, n)
    else:
        raise ValueError(kind)
    return df.withColumn(name, expr)
