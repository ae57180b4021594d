"""Source readers (SURVEY §2.1 scan inventory).

The reference supports FileTypes = delta | parquet | arrow |
arrow-stream | csv | json | ndjson | odbc | sqlite | duckdb
(core/types.py:12-23). Spark mappings:

- parquet/csv/json/ndjson: native readers (pushdown + pruning free)
- delta: ``format("delta")`` when delta-spark is on the classpath;
  gated behind an import-try here (not baked into this container)
- arrow ipc/feather: no native Spark reader — pyarrow -> createDataFrame
  (driver-side; fine for the small lookup tables this is used for, and
  documented as such; big data should land as parquet/delta)
- odbc/jdbc: ``spark.read.jdbc`` with explicit query-vs-dbtable routing
  (ref df_odbc.py:122-191 pushes a user SELECT to the remote side)
- sqlite: JDBC when a driver jar + url are configured; otherwise the
  stdlib ``sqlite3`` driver-side path — the reference's actual use is
  small lookup tables registered like any other table
  (ref df_duckdb.py:459-466, config_test.yml:89-123)
- duckdb file: the in-container duckdb package -> Arrow ->
  createDataFrame (ref df_duckdb.py:451-458 ATTACHes the file)

Driver-side paths (arrow/sqlite/duckdb) are for SMALL control/lookup
tables only: the data crosses the driver once at registration. Anything
measured in GB belongs in parquet/delta where executors scan in
parallel with pushdown.

Datasource-level defaults (select/exclude/sortby/filters — ref
core/config.py:133-155) are applied by the registry after the scan.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession

_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


def jdbc_reader_options(
    uri: str, options: dict[str, str], scheme: str = "sqlite"
) -> dict[str, str]:
    """Resolve the option dict for ``spark.read.format("jdbc")``.

    Mirrors the reference's ODBC query pushdown (df_odbc.py:122-191):
    an explicit ``query`` option ships the user SELECT to the remote
    database (Spark wraps it as a subquery — the remote side filters and
    projects before anything crosses the wire); otherwise ``dbtable``
    names the remote table. The two are mutually exclusive in Spark's
    JDBC source, so ``query`` wins and ``dbtable`` is dropped with it."""
    opts = dict(options)
    opts.setdefault("url", f"jdbc:{scheme}:{uri}")
    if "query" in opts:
        opts.pop("dbtable", None)
    elif "dbtable" not in opts:
        raise ValueError("jdbc/odbc source needs a 'dbtable' or 'query' option")
    return opts


def _sqlite_local(spark: SparkSession, uri: str, opts: dict[str, str]) -> DataFrame:
    """stdlib-sqlite3 fallback when no JDBC driver jar is on the
    classpath. Driver-side by design: the reference uses sqlite for
    small lookup tables next to the service (config_test.yml:89-123)."""
    import sqlite3

    import pandas as pd

    sql = opts.get("query")
    if sql is None:
        tbl = opts.get("dbtable") or opts.get("table")
        if not tbl:
            raise ValueError("sqlite source needs a 'dbtable' or 'query' option")
        if not _IDENT.fullmatch(tbl):
            raise ValueError(f"invalid sqlite table name {tbl!r}")
        sql = f'SELECT * FROM "{tbl}"'
    with sqlite3.connect(uri) as con:
        pdf = pd.read_sql_query(sql, con)
    return spark.createDataFrame(pdf)


def _duckdb_file(spark: SparkSession, uri: str, opts: dict[str, str]) -> DataFrame:
    """duckdb database file as a table (ref df_duckdb.py:451-458 ATTACH):
    read via the duckdb package -> Arrow -> createDataFrame."""
    import duckdb

    sql = opts.get("query")
    if sql is None:
        tbl = opts.get("dbtable") or opts.get("table")
        if not tbl:
            raise ValueError("duckdb source needs a 'dbtable' or 'query' option")
        if not _IDENT.fullmatch(tbl):
            raise ValueError(f"invalid duckdb table name {tbl!r}")
        sql = f'SELECT * FROM "{tbl}"'
    con = duckdb.connect(uri, read_only=True)
    try:
        tab = con.sql(sql).arrow()
    finally:
        con.close()
    return spark.createDataFrame(tab.to_pandas())


def read_source(
    spark: SparkSession,
    uri: str,
    file_type: str = "parquet",
    options: dict[str, str] | None = None,
    delta_predicates: list[tuple] | None = None,
) -> DataFrame:
    opts = options or {}
    if file_type == "parquet":
        return spark.read.options(**opts).parquet(uri)
    if file_type == "delta":
        from lakeapi_spark.sources.delta import read_delta

        return read_delta(spark, uri, opts, predicates=delta_predicates)
    if file_type == "csv":
        # ref duckdb read_csv_auto semantics: header + inference; defaults
        # merged first so datasource options may override them
        return spark.read.options(**{"header": "true", "inferSchema": "true", **opts}).csv(uri)
    if file_type == "json":
        # whole-file JSON array (ref read_json_auto format='array')
        return spark.read.options(**{"multiLine": "true", **opts}).json(uri)
    if file_type == "ndjson":
        return spark.read.options(**opts).json(uri)
    if file_type == "orc":
        # native Spark reader (beyond the reference's FileTypes — free
        # breadth for lakehouse data that already lives in ORC): same
        # pushdown + pruning machinery as parquet
        return spark.read.options(**opts).orc(uri)
    if file_type == "xml":
        # Spark 4 ships the (formerly spark-xml) reader built in: a
        # distributed executor-side scan with schema inference, unlike
        # the driver-side single-document path the xml SINK uses. The
        # default rowTag matches both Spark's xml writer and our own
        # serialize.py sink (<data><row>...</row></data>), so sink
        # output round-trips through this reader (tested).
        return spark.read.options(**{"rowTag": "row", **opts}).format("xml").load(uri)
    if file_type == "avro":
        # built-in-but-external Spark module: the spark-avro jar is not
        # bundled in pyspark's jars dir, so gate with a clear error
        # instead of Spark's generic ClassNotFound
        try:
            return spark.read.options(**opts).format("avro").load(uri)
        except Exception as exc:
            raise ValueError(
                "avro needs the spark-avro package on the classpath "
                "(--packages org.apache.spark:spark-avro_2.13:<spark-version>)"
            ) from exc
    if file_type in ("arrow", "arrow-stream", "feather", "ipc"):
        import pyarrow as pa
        import pyarrow.feather as feather
        import pyarrow.ipc as ipc

        if file_type == "arrow-stream":
            with pa.input_stream(uri) as f:
                tab = ipc.open_stream(f).read_all()
        else:
            tab = feather.read_table(uri)
        return spark.createDataFrame(tab.to_pandas())
    if file_type == "sqlite":
        # JDBC only when the caller configured a real driver; else stdlib
        if "driver" in opts:
            return spark.read.format("jdbc").options(**jdbc_reader_options(uri, opts)).load()
        return _sqlite_local(spark, uri, opts)
    if file_type == "duckdb":
        # JDBC when the caller configured the duckdb_jdbc driver (the
        # jar is auto-discovered from local artifact caches by
        # session.discover_extra_jars): the scan then runs JVM-side with
        # query pushdown into duckdb, instead of the driver-side
        # Arrow hop below — the right path for anything non-tiny.
        if "driver" in opts:
            return (
                spark.read.format("jdbc")
                .options(**jdbc_reader_options(uri, opts, scheme="duckdb"))
                .load()
            )
        return _duckdb_file(spark, uri, opts)
    if file_type in ("odbc", "jdbc"):
        return spark.read.format("jdbc").options(**jdbc_reader_options(uri, opts)).load()
    raise ValueError(f"unsupported file_type {file_type!r}")


def expand_wildcard(spark: SparkSession, uri: str) -> list[tuple[str, str]]:
    """``name: "*"`` + ``uri: folder/*`` exposes every child table
    (ref core/config.py:341-382 walks fsspec). Listed through the Hadoop
    FileSystem API (sources/fs.py) so the same config works on local
    disk and object stores — the 100 TB deployment target — not just
    ``os.listdir``. Returns [(table_name, child_uri)]."""
    from lakeapi_spark.config import WildcardUriError
    from lakeapi_spark.sources.fs import list_children

    if not uri.endswith("/*"):
        raise WildcardUriError("*", f"wildcard uri {uri!r} must end with /*")

    out = []
    for path, is_dir, _mtime in list_children(spark, uri[:-2]):
        name = path.rsplit("/", 1)[-1]
        if is_dir or name.endswith(".parquet"):
            out.append((name.removesuffix(".parquet"), path))
    return out
