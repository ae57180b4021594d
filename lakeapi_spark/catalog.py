"""Table loading for the driver testdata + decimal-exact agg helpers.

The correctness gate compares Spark results against a DuckDB oracle via
an order-insensitive value hash — so every aggregate we emit must be
bit-identical across engines. Floating sums are NOT (partial-agg order
differs), so all money/quantity sums go through DECIMAL (exact,
associative) and are rounded + cast back to double at the end. AVGs stay
double but round(4) (error ~1e-10 at these magnitudes — safe).
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from lakeapi_spark.artifacts import versioned_artifact

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


class _ConfsNotHeld(Exception):
    pass


def _memo(spark: SparkSession) -> dict:
    """The session's ``versioned_artifact`` cache, kept on the session
    object so a new session never sees a dead session's plans."""
    return spark.__dict__.setdefault("_lakeapi_memo", {})


def _keep(_stale) -> None:
    pass  # nothing to release: a memoized scan caches no data


def _set_confs(spark: SparkSession) -> bool:
    ok = True
    for k, v in (
        ("spark.sql.session.timeZone", "UTC"),
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
        ("spark.sql.sources.partitionColumnTypeInference.enabled", "false"),
    ):
        try:
            spark.conf.set(k, v)
            ok = ok and spark.conf.get(k) == v
        except Exception:  # immutable on some builds — best effort
            ok = False
    if not ok:
        raise _ConfsNotHeld
    return True


def ensure_session_confs(spark: SparkSession) -> None:
    """Determinism confs that must hold even on a caller-provided session
    (the driver passes its own SparkSession to the query builders):

    - UTC session tz: timestamp->date casts must match the (naive)
      DuckDB oracle regardless of host timezone;
    - nanosAsLong: events.parquet stores TIMESTAMP(NANOS) which the
      vectorized reader rejects (SURVEY §7 risk 3) — read as long and
      convert below;
    - partition values stay strings (md5-derived partition dirs like
      '12' must not be inferred as ints).
    All are runtime-settable SQL confs. Set ONCE per session, through
    the session memo: each conf.set is a ~2-3 ms py4j round-trip and
    ``table()`` runs ~150 times per bench pass — the confs are
    idempotent and nothing in the serving/bench paths unsets them
    mid-session. The memo keeps the result only once every conf
    verifiably holds, so a session where a set failed re-asserts them
    on each call.
    """
    try:
        versioned_artifact(_memo(spark), "confs", None, (), lambda: _set_confs(spark), _keep)
    except _ConfsNotHeld:
        pass


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Lazy scan DataFrame for a testdata table, MEMOIZED per session
    and file version.

    ``spark.read.parquet`` re-reads the footer to infer the schema on
    every call — measured 80-95 ms per call on local[32], and the
    bench queries call ``table()`` ~150 times per pass, so the handles
    were costing more driver time than several queries' entire
    execution. The memo holds only the LAZY plan handle (the
    reference's register-routes-once shape, core/route.py): no data is
    cached — every action still scans the parquet file. The version is
    the file's (mtime, size), so a rewritten table gets a fresh scan with
    the new schema, and the stale one is dropped."""
    ensure_session_confs(spark)
    path = f"{sf_dir}/{name}.parquet"
    try:
        st = os.stat(path)
    except OSError:  # odd path (dir listing race): read unmemoized
        return _read_table(spark, path, name)
    return versioned_artifact(
        _memo(spark), (sf_dir, name), (st.st_mtime_ns, st.st_size), (),
        lambda: _read_table(spark, path, name), _keep,
    )


def _read_table(spark: SparkSession, path: str, name: str) -> DataFrame:
    df = spark.read.parquet(path)
    # ns-timestamp columns surface as long under nanosAsLong: convert to
    # a real timestamp (µs truncation; `div` keeps 64-bit precision —
    # float division would corrupt ~1.7e18 nano epochs)
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register all testdata tables as temp views (the Spark analogue of
    the reference's startup route registration, core/route.py:16-142)."""
    for name in TABLES:
        table(spark, sf_dir, name).createOrReplaceTempView(name)


def dec(col: Column | str, scale: int = 4) -> Column:
    """Cast to exact decimal before summing. Precision 18 keeps
    decimal*decimal products inside 38 digits with identical
    precision/scale rules in Spark and DuckDB (both cap at 38)."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(f"decimal(18,{scale})")


def money_sum(expr: Column, out_scale: int = 2) -> Column:
    """SUM in decimal -> round -> double: deterministic across engines."""
    return F.round(F.sum(expr), out_scale).cast("double")
