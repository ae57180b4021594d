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
re-registering a table drops it. ``dataframe(name)``, ``schema(name)``
and the BM25 index key all read the same entry; delta requests with
log-stats predicates read their own per-request file subset and are
never memoized.

``create_views`` still freezes the SQL endpoint's temp views at the scan
of registration time; refreshing them is out of the memo's scope.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from lakeapi_spark.artifacts import cached_artifact, evict, versioned_artifact
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
from lakeapi_spark.operators.search import search as search_op
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
        #: (name, scan version, ()) -> scan DataFrame (module docstring)
        self._scans: dict[tuple, DataFrame] = {}

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
        self._tables[cfg.name] = cfg
        # a replaced config may read differently at the same data version
        evict(self._scans, cfg.name)

    def names(self) -> list[str]:
        return sorted(self._tables)

    def config(self, name: str) -> TableConfig:
        if name not in self._tables:
            raise UnknownTableError(name)
        return self._tables[name]

    def _read(self, cfg: TableConfig, uri: str, delta_predicates=None) -> DataFrame:
        ds = cfg.datasource
        return read_source(
            self.spark, uri, ds.file_type, dict(ds.options), delta_predicates=delta_predicates
        )

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

    def scan(self, name: str) -> tuple[DataFrame, Any]:
        """The table's unpredicated scan and the version it was read at,
        from the memo (read once per version; module docstring). The
        version is also the key of artifacts built from this scan, such
        as the BM25 index."""
        cfg = self.config(name)
        uri = self._resolve_uri(cfg)
        version = self._scan_version(cfg, uri)
        if version is None:
            return self._read(cfg, uri), (cfg.version,)
        df = versioned_artifact(
            self._scans, name, version, (), lambda: self._read(cfg, uri), lambda _df: None
        )
        return df, version

    def dataframe(
        self, name: str, delta_predicates: list[tuple] | None = None
    ) -> DataFrame:
        """The table's scan: the memoized one, or — given
        ``delta_predicates``, closed-range boxes (from
        ``predicates_from_filters``) that let a delta table skip whole
        files by LOG stats before Spark ever lists them — a fresh read
        of that file subset (the metadata layer of pruning, on top of
        Catalyst's row-group/partition pruning). Results never change;
        only IO."""
        if delta_predicates:
            cfg = self.config(name)
            return self._read(cfg, self._resolve_uri(cfg), delta_predicates)
        return self.scan(name)[0]

    def schema(self, name: str) -> T.StructType:
        """The schema of the memoized scan, so it follows the same
        freshness contract: a table rewritten underneath the server with a
        new column serves the new schema on the next call, without a
        restart. A hit costs the data-version probe only; ``dataframe()``
        runs only on a miss, to read the table at its new version."""
        cfg = self.config(name)
        uri = self._resolve_uri(cfg)
        version = self._scan_version(cfg, uri)
        df = None if version is None else cached_artifact(self._scans, name, version, ())
        return (df if df is not None else self.dataframe(name)).schema

    def create_views(self) -> None:
        """Temp views for the SQL endpoint over each table's current scan;
        they stay at that scan until called again."""
        for name in self._tables:
            self.dataframe(name).createOrReplaceTempView(name)


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

    # delta log-stats file skipping from the request's AND filters:
    # pure-IO pruning a level above Catalyst (files are dropped before
    # Spark lists them); combi (OR) groups don't contribute
    delta_preds = None
    if ds.file_type == "delta":
        from lakeapi_spark.sources.delta import predicates_from_filters

        # schema-aware folding: raw params arrive untyped ('5' against
        # a bigint column) and date/timestamp stats are isoformat
        # strings — coercion per the table type keeps skipping sound
        delta_preds = predicates_from_filters(filters, registry.schema(name)) or None
    full = version = None
    if delta_preds:
        df = registry.dataframe(name, delta_predicates=delta_preds)
    else:
        # the memoized scan; a BM25 request scores against the index of
        # this same version, so its rows and scores never straddle a rewrite
        full, version = registry.scan(name)
        df = full

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

            if full is None:
                full, version = registry.scan(name)
            text = F.concat_ws(" ", *[F.col(c) for c in sc.columns])
            idx = bm25_index_for(
                full.select(F.col(sc.id_column), text.alias("__text")),
                sc.id_column,
                "__text",
                key=(f"search:{name}:{ds.uri}", version),
            )
            scores = bm25_scores(idx, search_text, score_col="search_score")
            out = out.join(
                scores.withColumnRenamed("__id", sc.id_column), sc.id_column, "inner"
            )
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
    ITERATOR via :func:`lakeapi_spark.serialize.stream_serialize`, so a
    full-table export never materializes on the driver — exactly the
    reference's temp-file chunk streaming, Spark-shaped. Formats that
    need a seekable whole-file sink (arrow file, xlsx, html, xml) stay
    whole-bytes in either case."""
    from lakeapi_spark import serialize as ser

    df = compile_request(registry, name, params, **kwargs)
    cfg = registry.config(name)
    unbounded = clamp_limit(kwargs.get("limit"), cfg.allow_get_all_pages) is None
    if unbounded and fmt not in ("arrow", "xlsx", "html", "xml"):
        return ser.stream_serialize(
            df, fmt, csv_separator=csv_separator, encoding=encoding
        )
    return ser.serialize(df, fmt, csv_separator=csv_separator, encoding=encoding)
