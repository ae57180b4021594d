"""Table registry + request compiler — the service core (ref §3.1).

``TableRegistry`` is the Spark analogue of the reference's startup route
registration (core/route.py:16-142): each configured table becomes a
lazily-read DataFrame with the datasource defaults applied.
``compile_request`` is the request-time pipeline
(endpoint/endpoint.py:160-326): raw query params -> operator routing ->
partition-pruning filters -> QueryRequest -> DataFrame.

Scan memo. Reading a table (``spark.read.parquet``) lists its files and
runs a schema-inference job, ~0.1 s per call. The registry therefore
keeps one resolved scan DataFrame per table, keyed by (name, config
version, data version), and caches no data: every action still runs
against the files the scan listed. The data version
(``sources.fs.data_version``) is a few-ms metadata probe that changes
whenever the reader's file listing would: newest mtime one level down,
plus bytes, files and directories at any depth (of ``_delta_log`` for a
delta table). So a table rewritten underneath the server is re-read by
the next request — the reference's datamove semantics
(tests/test_datamove.py:16-42, utils/meta_cache.py:46-58). Where the
probe cannot stat the source (odbc/jdbc) the key is the config version
alone, which is safe because those DataFrames re-query the remote side
on every action; any other source the probe cannot stat (e.g. a glob
uri) is read fresh per request. A miss evicts the table's stale entry;
re-registering a table drops it. ``compile_request`` reads the entry
once per request and takes everything from it: the schema its filters
coerce against, the rows, the BM25 index version and, for a delta table
read through the log, the snapshot whose files a predicated request
prunes by log stats (``sources.delta.read_snapshot``: no second log
listing). So a request never reads two versions of its table.
``dataframe(name)`` and ``schema(name)`` read the same entry.

BM25 search scores against the index built from the same memoized scan
(``operators/search.py``), keyed by its version, so rows and scores never
straddle a commit. For a delta table the memo also keeps the snapshot the
scan read, and a miss hands it to the index: a commit that only adds rows
of new ids, as the log's per-file id ranges prove, is tokenized as a tail
next to the last full build; any other commit rebuilds the index, as does
re-registering the table.

SQL. ``sql(text)`` parses once with the SQL endpoint's gate and checks
the tables it reads against the registered names. It then installs each
of them as a temp view of its memoized scan, so a statement reads the
same version of a table as a request compiled at that moment: one answer
per table. The reference likewise registers only the tables the
statement references, per request (endpoint/sql_endpoint.py:15-43).
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from lakeapi_spark.artifacts import evict, versioned_artifact
from lakeapi_spark.config import (
    MissingNearbyConfigError,
    MissingSearchConfigError,
    TableConfig,
    WildcardUriError,
    clamp_limit,
    merge_config_from_data,
)
from lakeapi_spark.operators.filters import split_param_postfix
from lakeapi_spark.operators.partitioning import apply_partition_pruning
from lakeapi_spark.operators.pipeline import QueryRequest, apply_query
from lakeapi_spark.operators.nearby import nearby as nearby_op
from lakeapi_spark.operators.search import search as search_op, search_terms
from lakeapi_spark.sources.readers import expand_wildcard, read_source

#: sources whose DataFrames re-query the remote side on every action, so
#: the config version alone may key their scan when the probe cannot
#: stat them
_REQUERY_TYPES = ("odbc", "jdbc")


class UnknownTableError(KeyError):
    pass


class TableRegistry:
    def __init__(
        self,
        spark: SparkSession,
        accounts: dict[str, dict[str, str]] | None = None,
        data_path: str | None = None,
    ):
        """``accounts``/``data_path`` mirror the reference's service-level
        settings (source_uri.py:42-61): named credential sets for
        object-store uris, and the base dir relative uris resolve
        against."""
        self.spark = spark
        self.accounts = accounts or {}
        self.data_path = data_path
        self._tables: dict[str, TableConfig] = {}
        #: (name, scan version, ()) -> (scan DataFrame, (uri, delta
        #: snapshot) when it read every live file of one, else None)
        self._scans: dict[tuple, tuple] = {}

    def _resolve_uri(self, cfg: TableConfig) -> str:
        """Normalize the configured uri to its Hadoop form and apply any
        account credentials to the live session (sources/uris.py)."""
        from lakeapi_spark.sources.uris import apply_hadoop_conf, normalize_uri

        uri, hconf = normalize_uri(
            cfg.datasource.uri, cfg.datasource.account, self.accounts, self.data_path
        )
        if hconf:
            apply_hadoop_conf(self.spark, hconf)
        return uri

    def register(self, cfg: TableConfig) -> None:
        """Wildcard configs (name='*', uri='folder/*') expand to one table
        per child (ref config.py:341-382). ``config_from_data`` merges
        config shipped inside the table (delta ``lakeapi.config`` property,
        parquet KV metadata, or sidecar — ref config.py:227-254)."""
        if cfg.config_from_data:
            # probe the RESOLVED uri: the raw one may be data_path-
            # relative and the carriers are checked with local os.path
            cfg = merge_config_from_data(cfg, resolved_uri=self._resolve_uri(cfg))
        if cfg.name == "*":
            if not cfg.datasource.uri.endswith("/*"):
                raise WildcardUriError("*", f"wildcard uri {cfg.datasource.uri!r} must end with /*")
            import copy

            for child_name, child_uri in expand_wildcard(self.spark, self._resolve_uri(cfg)):
                child = copy.deepcopy(cfg)
                child.name = child_name
                child.datasource.uri = child_uri
                self._add(child)
            return
        self._add(cfg)

    def _add(self, cfg: TableConfig) -> None:
        from lakeapi_spark.operators.search import _BM25_CACHE

        old = self._tables.get(cfg.name)
        self._tables[cfg.name] = cfg
        # a replaced config may read differently at the same data version,
        # so neither its scan nor its index may serve or seed the new one
        evict(self._scans, cfg.name)
        for idx in evict(_BM25_CACHE, _search_identity(old)) if old else ():
            idx.unpersist()

    def names(self) -> list[str]:
        return sorted(self._tables)

    def config(self, name: str) -> TableConfig:
        if name not in self._tables:
            raise UnknownTableError(name)
        return self._tables[name]

    def _read_scan(self, cfg: TableConfig, uri: str) -> tuple:
        """The memo's value: the whole-table scan and, for a delta table
        read through the log, (uri, the snapshot it read)."""
        ds = cfg.datasource
        if ds.file_type != "delta":
            return read_source(self.spark, uri, ds.file_type, dict(ds.options)), None
        from lakeapi_spark.sources.delta import delta_scan

        df, snap = delta_scan(self.spark, uri, dict(ds.options))
        return df, snap and (uri, snap)

    def _scan_version(self, cfg: TableConfig, uri: str) -> tuple | None:
        """The memo version of the table's scan: (config version, data
        version), the config version alone for a re-querying source the
        probe cannot stat, or None when the scan must not be memoized.
        A delta table is versioned by its log: data files a writer has
        staged but not yet committed change nothing a reader sees."""
        from py4j.protocol import Py4JJavaError

        from lakeapi_spark.sources import fs

        if cfg.datasource.file_type == "delta":
            uri = f"{uri.rstrip('/')}/_delta_log"
        try:
            return (cfg.version, fs.data_version(self.spark, uri))
        except (OSError, Py4JJavaError):  # missing path, unknown scheme, not a path
            return (cfg.version,) if cfg.datasource.file_type in _REQUERY_TYPES else None

    def scan(self, name: str) -> tuple[DataFrame, Any, tuple | None]:
        """The table's unpredicated scan, the version it was read at and,
        for a delta table read through the log, (uri, the snapshot it
        read), from the memo (read once per version; module docstring).
        The version is also the key of artifacts built from this scan,
        such as the BM25 index."""
        cfg = self.config(name)
        uri = self._resolve_uri(cfg)
        version = self._scan_version(cfg, uri)
        if version is None:
            df, delta = self._read_scan(cfg, uri)
            return df, (cfg.version,), delta
        df, delta = versioned_artifact(
            self._scans, name, version, (), lambda: self._read_scan(cfg, uri), lambda _s: None
        )
        return df, version, delta

    def dataframe(self, name: str) -> DataFrame:
        """The table's memoized whole-table scan (:meth:`scan`)."""
        return self.scan(name)[0]

    def schema(self, name: str) -> T.StructType:
        """The schema of the memoized scan, so it follows the same
        freshness contract: a table rewritten underneath the server with a
        new column serves the new schema on the next call, without a
        restart."""
        return self.scan(name)[0].schema

    def sql(self, text: str) -> DataFrame:
        """Run one read-only SQL statement over the registered tables: the
        SQL endpoint's gate (``sql/endpoint.py``), visibility against
        :meth:`names`, then each table the statement reads is installed as
        a temp view of its memoized scan, so the statement reads what
        ``compile_request`` serves at that moment."""
        from lakeapi_spark.sql import endpoint

        plan, tables = endpoint._check(self.spark, text)
        names = {n.lower(): n for n in self.names()}
        endpoint.check_visible(tables, names)
        for table in tables:
            self._install_view(names[table])
        return endpoint.run_checked(self.spark, plan)

    def _install_view(self, name: str) -> None:
        self.scan(name)[0].createOrReplaceTempView(name)

    def create_views(self) -> None:
        """A temp view of each table's current scan, for callers that run
        SQL on the session themselves; :meth:`sql` refreshes the ones it
        reads."""
        for name in self._tables:
            self._install_view(name)


def route_params(
    cfg: TableConfig, raw_params: dict[str, Any]
) -> tuple[list[tuple[str, str, Any]], list[dict[str, Any]]]:
    """Query-string names -> (filters, combi groups) using postfix routing
    (ref model.py:41-72 + datasource.py:400-423)."""
    declared = {p.name: p for p in cfg.params}
    filters: list[tuple[str, str, Any]] = []
    combi_groups: dict[str, dict[str, Any]] = {}
    for qname, value in raw_params.items():
        pname, op = split_param_postfix(qname, declared.keys())
        p = declared[pname]
        if p.combi:
            # combi param: value is a list of dicts, each ANDing its keys
            for i, group in enumerate(value if isinstance(value, list) else [value]):
                combi_groups.setdefault(f"{pname}:{i}", {}).update(group)
            continue
        if op not in p.operators and not (op == "=" and not p.operators):
            raise ValueError(f"operator {op!r} not allowed for param {pname!r}")
        filters.append((p.col, op, value))
    return filters, list(combi_groups.values())


def _search_identity(cfg: TableConfig) -> str:
    """The BM25 index cache identity of a table's config."""
    return f"search:{cfg.name}:{cfg.datasource.uri}"


def compile_request(
    registry: TableRegistry,
    name: str,
    params: dict[str, Any] | None = None,
    *,
    select: list[str] | None = None,
    distinct: bool = False,
    limit: int | None = None,
    offset: int | None = None,
    search_text: str | None = None,
    nearby_point: tuple[float, float, float] | None = None,
    jsonify_complex: bool = False,
) -> DataFrame:
    """The full §3.1 request lifecycle on Spark."""
    cfg = registry.config(name)
    ds = cfg.datasource

    filters, combi = route_params(cfg, params or {})
    # baked-in datasource pre-filters (ref config 'filters')
    for f in ds.filters:
        filters.append((f["col"], f.get("op", "="), f.get("value")))

    # the one read of the table: rows, schema, BM25 index version and
    # delta snapshot all come from this version, so a request never
    # straddles a rewrite or a commit
    full, version, delta = registry.scan(name)
    df = full
    if delta is not None:
        # delta log-stats file skipping from the request's AND filters:
        # pure-IO pruning a level above Catalyst (files the snapshot's
        # stats prove miss are never read); combi (OR) groups don't
        # contribute. Under delta-spark the scan holds no snapshot and
        # skips files itself.
        from lakeapi_spark.sources.delta import predicates_from_filters, read_snapshot

        # schema-aware folding: raw params arrive untyped ('5' against
        # a bigint column) and date/timestamp stats are isoformat
        # strings — coercion per the table type keeps skipping sound
        preds = predicates_from_filters(filters, full.schema)
        if preds:
            df = read_snapshot(registry.spark, *delta, preds)

    # derived partition pruning (§2.12) before the logical filters
    if ds.partition_columns:
        df = apply_partition_pruning(df, ds.partition_columns, filters)

    sel: list[tuple[str, str | None]] | None = None
    if ds.select is not None:
        sel = [(s["name"], s.get("alias")) for s in ds.select]
    if select is not None:
        base = sel or [(f.name, None) for f in df.schema.fields]
        sel = [(n, a) for n, a in base if (a or n) in set(select)]

    sortby = [(s["by"], s.get("direction", "asc")) for s in ds.sortby]

    clamped = clamp_limit(limit, cfg.allow_get_all_pages)
    req = QueryRequest(
        filters=filters,
        combi=combi,
        select=sel,
        exclude=list(ds.exclude),
        distinct=distinct,
        sortby=sortby,
        limit=clamped,
        offset=offset,
        jsonify_complex=jsonify_complex,
    )

    if search_text is not None:
        # The reference appends the score column, the `score IS NOT NULL`
        # filter, and `ORDER BY score DESC` (append=False — REPLACING the
        # config sortby) to the SAME Select that carries LIMIT/OFFSET
        # (endpoint.py:295-301, endpoint_search.py:56-59), so scoring and
        # score-ordering apply BEFORE paging. Compile the request without
        # sort/paging, score, then page the scored result.
        if not cfg.search:
            raise MissingSearchConfigError(name, "has no search config")
        search_terms(search_text)  # typed 400 before any BM25 index build
        req.sortby, req.limit, req.offset = [], None, None
        out = apply_query(df, req)
        sc = cfg.search[0]
        if sc.method == "bm25":
            # Served from the per-table-version inverted index, like the
            # reference's duckdb FTS path (df_duckdb.py:321-379): the
            # index covers the FULL table version (request filters don't
            # change corpus statistics), scores broadcast-join onto the
            # filtered request. Inner join == the reference's
            # `score IS NOT NULL` drop of non-matching rows.
            if not sc.id_column:
                raise MissingSearchConfigError(name, "bm25 search requires SearchConfig.id_column")
            from pyspark.sql import functions as F

            from lakeapi_spark.operators.search import bm25_index_for, bm25_scores

            idx = bm25_index_for(
                full,
                sc.id_column,
                F.concat_ws(" ", *[F.col(c) for c in sc.columns]),
                key=(_search_identity(cfg), version),
                delta=delta,
            )
            scores = bm25_scores(idx, search_text, score_col="search_score")
            out = out.join(scores.withColumnRenamed("__id", sc.id_column), sc.id_column, "inner")
        else:
            out = search_op(out, sc.columns, search_text)
        # Page with the same deterministic-tiebreak discipline as paged():
        # scores are small integers with many ties, so score-desc alone
        # makes page N and N+1 overlap/drop rows. Secondary keys: the
        # table's configured sortby, then a monotonic id.
        from pyspark.sql import functions as F

        from lakeapi_spark.operators.pipeline import _sort_cols

        out = out.orderBy(
            F.col("search_score").desc(),
            *_sort_cols(sortby),
            F.monotonically_increasing_id(),
        )
        if offset:
            out = out.offset(offset)
        if clamped is not None and clamped >= 0:
            out = out.limit(clamped)
    else:
        out = apply_query(df, req)

    if nearby_point is not None:
        # Nearby stays AFTER paging: the reference wraps the already-limited
        # query in a CTE and applies distance filter/order outside it
        # (endpoint_nearby.py:66-79).
        if not cfg.nearby:
            raise MissingNearbyConfigError(name, "has no nearby config")
        lat, lon, dist = nearby_point
        nb = cfg.nearby[0]
        out = nearby_op(out, nb.lat_col, nb.lon_col, lat, lon, dist, dist_name=nb.name)
    return out


def serve_request(
    registry: TableRegistry,
    name: str,
    params: dict[str, Any] | None = None,
    *,
    fmt: str = "json",
    csv_separator: str = ",",
    encoding: str | None = None,
    **kwargs: Any,
):
    """The serialization step the reference's HTTP handler performs
    after compiling a request (core/response.py:87-170,315-352):
    bounded results serialize to whole ``bytes``; an UNBOUNDED request
    (``limit=-1`` on an ``allow_get_all_pages`` table) returns a chunk
    ITERATOR via :func:`lakeapi_spark.serialize.stream_serialize`, in
    any format, so a full-table export never materializes on the
    driver — the reference's temp-file chunk streaming, Spark-shaped."""
    from lakeapi_spark import serialize as ser

    df = compile_request(registry, name, params, **kwargs)
    cfg = registry.config(name)
    if clamp_limit(kwargs.get("limit"), cfg.allow_get_all_pages) is None:
        return ser.stream_serialize(
            df, fmt, csv_separator=csv_separator, encoding=encoding
        )
    return ser.serialize(df, fmt, csv_separator=csv_separator, encoding=encoding)
