"""Declarative table/endpoint config (ref core/config.py).

The reference's YAML maps tables to datasources with default
projection/sort/filters, param declarations (name + operators + combi),
search/nearby configs, and paging policy. This module is the same
declarative surface as plain dataclasses (YAML loading is a thin
``from_dict`` away and needs no extra dependency).

Citations: Config core/config.py:172-195, DatasourceConfig :133-155,
Param :96-127, SearchConfig/NearbyConfig core/types.py:118-128, paging
endpoint/endpoint.py:164,210-211,289-293.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

DEFAULT_LIMIT = 100  # ref endpoint.py:164
MAX_LIMIT = 1000  # clamp unless allow_get_all_pages (ref endpoint.py:210-211)


class TableConfigError(ValueError):
    """A table's config cannot serve what was asked of it. Carries the
    table name (``'*'`` for a wildcard config) so a service can map the
    failure to the endpoint it belongs to."""

    def __init__(self, table: str, message: str):
        super().__init__(f"table {table!r}: {message}")
        self.table = table


class WildcardUriError(TableConfigError):
    """A wildcard table (``name='*'``) whose uri does not end in ``/*``."""


class MissingSearchConfigError(TableConfigError):
    """A search request on a table without a usable search config."""


class MissingNearbyConfigError(TableConfigError):
    """A nearby request on a table without a nearby config."""


@dataclass
class ParamConfig:
    """A declared query parameter (ref core/config.py:96-127)."""

    name: str
    colname: str | None = None  # defaults to name
    operators: list[str] = field(default_factory=lambda: ["="])
    combi: list[str] | None = None  # composite-key OR-of-ANDs member

    @property
    def col(self) -> str:
        return self.colname or self.name


@dataclass
class SearchConfig:
    """ref core/types.py:118-128. ``method`` mirrors the reference's
    engine split: the duckdb engine serves search from a persisted FTS
    index with BM25 ranking (df_duckdb.py:321-379) while other engines
    use the portable LIKE scorer (df_base.py:354-377). ``"bm25"`` here
    serves from the per-table-version inverted index
    (operators/search.py:Bm25Index) and requires ``id_column`` — the
    reference keys its FTS index the same way (a pk over the indexed
    relation)."""

    name: str
    columns: list[str]
    method: str = "like"  # "like" | "bm25"
    id_column: str | None = None


@dataclass
class NearbyConfig:
    name: str
    lat_col: str
    lon_col: str


@dataclass
class DatasourceConfig:
    uri: str
    file_type: str = "parquet"
    #: credential-set name for object-store uris (ref source_uri.py
    #: ``account`` -> accounts yaml). Operator-controlled: deliberately
    #: NOT in _EMBEDDED_DS_ALLOWED — data writers can't switch a table
    #: onto another credential set.
    account: str | None = None
    select: list[dict[str, str]] | None = None  # [{name, alias}]
    exclude: list[str] = field(default_factory=list)
    sortby: list[dict[str, str]] = field(default_factory=list)  # [{by, direction}]
    filters: list[dict[str, Any]] = field(default_factory=list)  # baked-in pre-filters
    partition_columns: list[str] = field(default_factory=list)
    options: dict[str, str] = field(default_factory=dict)


@dataclass
class TableConfig:
    name: str
    datasource: DatasourceConfig
    tag: str = "default"
    version: int = 1
    params: list[ParamConfig] = field(default_factory=list)
    search: list[SearchConfig] = field(default_factory=list)
    nearby: list[NearbyConfig] = field(default_factory=list)
    allow_get_all_pages: bool = False
    engine: str = "spark"
    #: merge table config embedded in the data itself at registration
    #: (ref config.py:227-254 ``config_from_delta``)
    config_from_data: bool = False

    @property
    def route(self) -> str:
        """/api/v{version}/{tag}/{name} (ref config.py:172-195)."""
        return f"/api/v{self.version}/{self.tag}/{self.name}"

    @classmethod
    def from_dict(cls, d: dict[str, Any]) -> TableConfig:
        ds = d["datasource"]
        return cls(
            name=d["name"],
            tag=d.get("tag", "default"),
            version=int(d.get("version", 1)),
            datasource=DatasourceConfig(
                uri=ds["uri"],
                file_type=ds.get("file_type", "parquet"),
                account=ds.get("account"),
                select=ds.get("select"),
                exclude=list(ds.get("exclude", [])),
                sortby=[
                    {"by": s, "direction": "asc"} if isinstance(s, str) else s
                    for s in ds.get("sortby", [])
                ],
                filters=list(ds.get("filters", [])),
                partition_columns=list(ds.get("partition_columns", [])),
                options=dict(ds.get("options", {})),
            ),
            params=[
                ParamConfig(name=p) if isinstance(p, str) else ParamConfig(
                    name=p["name"],
                    colname=p.get("colname"),
                    operators=list(p.get("operators", ["="])),
                    combi=p.get("combi"),
                )
                for p in d.get("params", [])
            ],
            search=[SearchConfig(**s) for s in d.get("search", [])],
            nearby=[NearbyConfig(**n) for n in d.get("nearby", [])],
            allow_get_all_pages=bool(d.get("allow_get_all_pages", False)),
            engine=d.get("engine", "spark"),
        )


CONFIG_KEY = "lakeapi.config"  # ref create_test_data.py:164-204 table property
SIDECAR_NAME = "_lakeapi_config.json"


def load_embedded_config(uri: str) -> dict[str, Any] | None:
    """Table config embedded in the data (ref core/config.py:227-254).

    The reference reads the delta table property ``lakeapi.config`` and
    shallow-merges it over the YAML config so the table owner can ship
    params/select/search next to the data. Carriers checked in order:

    1. delta: the latest ``metaData`` action's ``configuration`` in
       ``_delta_log/*.json`` — parsed directly from the commit log, so
       it works without delta-spark on the classpath (checkpointed-only
       logs where every JSON commit was vacuumed are not handled here);
    2. parquet key-value file metadata under the same key;
    3. a ``_lakeapi_config.json`` sidecar (inside a dataset directory,
       or ``<file>.lakeapi.json`` next to a single file).

    Returns the parsed dict, or None when no carrier is present.
    Malformed JSON warns and is ignored, like the reference.
    """
    import glob
    import json
    import logging
    import os

    log = logging.getLogger(__name__)

    delta_log = os.path.join(uri, "_delta_log")
    if os.path.isdir(delta_log):
        conf: dict | None = None
        for commit in sorted(glob.glob(os.path.join(delta_log, "*.json"))):
            try:
                with open(commit) as f:
                    for line in f:
                        action = json.loads(line)
                        if "metaData" in action:
                            conf = action["metaData"].get("configuration", {})
            except (OSError, json.JSONDecodeError) as err:
                log.warning("unreadable delta commit %s: %s", commit, err)
        if conf is not None and CONFIG_KEY in conf:
            try:
                return json.loads(conf[CONFIG_KEY])
            except json.JSONDecodeError as err:
                log.warning("bad %s JSON in %s: %s", CONFIG_KEY, uri, err)
                return None

    if os.path.isdir(uri):
        sidecar = os.path.join(uri, SIDECAR_NAME)
        if os.path.exists(sidecar):
            try:
                with open(sidecar) as f:
                    return json.load(f)
            except (OSError, json.JSONDecodeError) as err:
                log.warning("bad sidecar %s: %s", sidecar, err)
                return None

    # parquet key-value file metadata (the single file, or the first
    # part file of a dataset directory)
    pq = None
    if os.path.isfile(uri) and uri.endswith(".parquet"):
        pq = uri
    elif os.path.isdir(uri):
        parts = sorted(glob.glob(os.path.join(uri, "*.parquet")))
        pq = parts[0] if parts else None
    if pq is not None:
        try:
            import pyarrow.parquet as papq

            raw = (papq.read_schema(pq).metadata or {}).get(CONFIG_KEY.encode())
            if raw is not None:
                return json.loads(raw)
        except (OSError, json.JSONDecodeError) as err:
            log.warning("bad %s parquet metadata in %s: %s", CONFIG_KEY, pq, err)

    if os.path.isfile(uri):
        sibling = uri + ".lakeapi.json"
        if os.path.exists(sibling):
            try:
                with open(sibling) as f:
                    return json.load(f)
            except (OSError, json.JSONDecodeError) as err:
                log.warning("bad sidecar %s: %s", sibling, err)
    return None


#: Embedded config is written by whoever writes the DATA, so the merge is a
#: trust boundary: only the fields the reference actually ships with data
#: (param declarations, projection/sort defaults, search/nearby specs) may
#: cross it. uri / file_type / engine / name / allow_get_all_pages stay
#: operator-controlled — a data writer must not repoint the table at another
#: source or widen the paging policy.
_EMBEDDED_ALLOWED = {"params", "search", "nearby"}
_EMBEDDED_DS_ALLOWED = {"select", "exclude", "sortby", "filters", "partition_columns", "options"}


def merge_config_from_data(
    cfg: TableConfig, resolved_uri: str | None = None
) -> TableConfig:
    """Shallow-merge embedded config over ``cfg`` (data side wins —
    ref ``config | cfg`` at config.py:243-247), restricted to the
    whitelisted fields above; refused keys warn and are ignored.

    Pass ``resolved_uri`` (the data_path-joined local form) when the
    config uri is relative: the carriers are probed with local
    ``os.path`` calls, so probing the raw relative uri looks in the
    wrong place and silently finds nothing. Object-store uris still
    probe-miss by design (the carriers would need Hadoop FS reads)."""
    embedded = load_embedded_config(resolved_uri or cfg.datasource.uri)
    if not embedded:
        return cfg
    import logging
    from dataclasses import asdict

    log = logging.getLogger(__name__)
    refused = set(embedded) - _EMBEDDED_ALLOWED - {"datasource"}
    eds_in = embedded.get("datasource") or {}
    refused |= {f"datasource.{k}" for k in set(eds_in) - _EMBEDDED_DS_ALLOWED}
    if refused:
        log.warning(
            "embedded config for %s tried to set operator-controlled fields %s; ignored",
            cfg.name, sorted(refused),
        )
    base = asdict(cfg)
    merged = {**base, **{k: v for k, v in embedded.items() if k in _EMBEDDED_ALLOWED}}
    merged["datasource"] = {
        **base["datasource"],
        **{k: v for k, v in eds_in.items() if k in _EMBEDDED_DS_ALLOWED},
    }
    return TableConfig.from_dict(merged)


def clamp_limit(limit: int | None, allow_get_all_pages: bool) -> int | None:
    """Paging policy (ref endpoint.py:164,210-211,289-293): default 100,
    clamp to 1000, limit=-1 -> unbounded only when allowed."""
    if limit is None:
        return DEFAULT_LIMIT
    if limit == -1:
        return None if allow_get_all_pages else MAX_LIMIT
    return min(limit, MAX_LIMIT) if not allow_get_all_pages else limit
