"""End-to-end config->request lifecycle (the reference's test_app.py
golden-request style, minus HTTP)."""

from __future__ import annotations

import pytest

from lakeapi_spark.config import DatasourceConfig, ParamConfig, TableConfig, clamp_limit
from lakeapi_spark.registry import TableRegistry, UnknownTableError, compile_request


@pytest.fixture(scope="module")
def registry(spark, sf_dir):
    reg = TableRegistry(spark)
    reg.register(
        TableConfig(
            name="parts",
            datasource=DatasourceConfig(
                uri=f"{sf_dir}/part.parquet",
                select=[
                    {"name": "p_partkey", "alias": "id"},
                    {"name": "p_brand"},
                    {"name": "p_size"},
                    {"name": "p_name"},
                ],
                sortby=[{"by": "p_partkey", "direction": "asc"}],
            ),
            params=[
                ParamConfig(name="brand", colname="p_brand"),
                ParamConfig(name="p_size", operators=["=", ">=", "<=", "in"]),
            ],
        )
    )
    reg.register(TableConfig(name="*", datasource=DatasourceConfig(uri=sf_dir + "/*")))
    return reg


def test_wildcard_expansion(registry):
    names = registry.names()
    assert "lineitem" in names and "orders" in names and "parts" in names


def test_unknown_table(registry):
    with pytest.raises(UnknownTableError):
        registry.config("nope")


def test_schema_cache(registry):
    s1 = registry.schema("parts")
    s2 = registry.schema("parts")
    assert s1 is s2  # cached per (name, version)


def test_compile_request_filters_and_alias(spark, registry):
    out = compile_request(registry, "parts", {"brand": "Brand#13", "p_size_gte": 40})
    rows = out.collect()
    assert rows, "expected matches"
    assert set(out.columns) == {"id", "p_brand", "p_size", "p_name"}
    assert all(r.p_brand == "Brand#13" and r.p_size >= 40 for r in rows)
    # default sortby ascending id
    ids = [r.id for r in rows]
    assert ids == sorted(ids)


def test_compile_request_operator_not_allowed(registry):
    with pytest.raises(ValueError, match="not allowed"):
        compile_request(registry, "parts", {"brand_contains": "Brand"})


def test_compile_request_select_subset_and_paging(registry):
    out = compile_request(registry, "parts", {}, select=["id", "p_size"], limit=5, offset=2)
    rows = out.collect()
    assert out.columns == ["id", "p_size"]
    assert len(rows) == 5
    assert rows[0].id == 2  # offset applied after the configured sort


@pytest.fixture(scope="module")
def search_registry(spark, sf_dir):
    from lakeapi_spark.config import SearchConfig

    reg = TableRegistry(spark)
    reg.register(
        TableConfig(
            name="parts_searchable",
            datasource=DatasourceConfig(
                uri=f"{sf_dir}/part.parquet",
                sortby=[{"by": "p_partkey", "direction": "asc"}],
            ),
            search=[SearchConfig(name="search", columns=["p_name"])],
        )
    )
    return reg


def test_search_scores_before_paging(spark, search_registry):
    """Regression for the r1 advice: the reference applies the score column,
    `score IS NOT NULL`, and ORDER BY score in the SAME Select as LIMIT
    (endpoint.py:295-301), so search must see the whole table, not the
    first page."""
    full = compile_request(
        search_registry, "parts_searchable", {}, search_text="widget", limit=-1
    )
    # limit=-1 without allow_get_all_pages clamps to 1000, enough at sf0.001
    n_matches = full.count()
    assert n_matches > 5, "fixture needs several matches for the paging check"

    page = compile_request(
        search_registry, "parts_searchable", {}, search_text="widget", limit=5
    )
    rows = page.collect()
    assert len(rows) == 5
    # every returned row is a real match, even though a pre-scoring LIMIT 5
    # (first 5 by p_partkey) would include non-matches
    assert all("widget" in r.p_name for r in rows)
    assert all(r.search_score == 1 for r in rows)

    unscored_first_5 = compile_request(search_registry, "parts_searchable", {}, limit=5)
    assert not all("widget" in r.p_name for r in unscored_first_5.collect())


_STRUCT_FRUITS_CONFIG = {
    # mirror of the reference's struct_fruits config-in-data fixture
    # (create_test_data.py:164-204): operator whitelists shipped with data
    "params": [
        {"name": "fruits", "operators": ["not in", "in", "contains", "startswith", "not contains", "<>"]},
        {"name": "cars", "operators": ["not in", "in", "contains", "startswith", "not contains", "<>"]},
        {"name": "B", "operators": [">", "<", "<=", ">=", "between", "startswith", "not between"]},
    ]
}


@pytest.fixture(scope="module")
def fruits_dir(spark, tmp_path_factory):
    import json

    d = tmp_path_factory.mktemp("fruits_data")
    spark.createDataFrame(
        [("banana", "audi", 1), ("ananas", "fiat", 2), ("kiwi", "audi", 3)],
        ["fruits", "cars", "B"],
    ).coalesce(1).write.mode("overwrite").parquet(str(d / "fruits"))
    (d / "fruits" / "_lakeapi_config.json").write_text(json.dumps(_STRUCT_FRUITS_CONFIG))
    return str(d / "fruits")


def test_config_from_data_sidecar(spark, fruits_dir):
    """ref config.py:227-254: table config shipped with the data is merged
    at registration (data side wins); the struct_fruits case from the
    reference's test_app.py."""
    reg = TableRegistry(spark)
    reg.register(
        TableConfig(
            name="fruits",
            datasource=DatasourceConfig(uri=fruits_dir),
            config_from_data=True,
        )
    )
    cfg = reg.config("fruits")
    assert [p.name for p in cfg.params] == ["fruits", "cars", "B"]
    assert "between" in cfg.params[2].operators

    out = compile_request(reg, "fruits", {"cars_in": ["audi"], "B_between": [1, 3]})
    rows = out.collect()
    assert {r.fruits for r in rows} == {"banana", "kiwi"}
    # operators not whitelisted by the embedded config are rejected —
    # like the reference, '=' is NOT implicit once operators are declared
    with pytest.raises(ValueError, match="not allowed"):
        compile_request(reg, "fruits", {"cars": "audi"})


def test_config_from_data_delta_log(spark, tmp_path):
    """The delta carrier: lakeapi.config in the latest metaData action's
    configuration, parsed straight from _delta_log/*.json (works without
    delta-spark, matching ref get_deltalake_meta usage)."""
    import json

    from lakeapi_spark.config import load_embedded_config

    d = tmp_path / "delta_tbl"
    log = d / "_delta_log"
    log.mkdir(parents=True)
    meta_v0 = {"metaData": {"id": "0", "configuration": {}}}
    meta_v1 = {
        "metaData": {
            "id": "1",
            "configuration": {"lakeapi.config": json.dumps(_STRUCT_FRUITS_CONFIG)},
        }
    }
    (log / "00000000000000000000.json").write_text(json.dumps(meta_v0) + "\n")
    (log / "00000000000000000001.json").write_text(
        json.dumps({"commitInfo": {}}) + "\n" + json.dumps(meta_v1) + "\n"
    )
    embedded = load_embedded_config(str(d))
    assert embedded is not None
    assert [p["name"] for p in embedded["params"]] == ["fruits", "cars", "B"]


def test_config_from_data_parquet_kv_metadata(spark, tmp_path):
    """The parquet carrier: lakeapi.config in key-value file metadata."""
    import json

    import pyarrow as pa
    import pyarrow.parquet as papq

    from lakeapi_spark.config import load_embedded_config

    tab = pa.table({"x": [1, 2]})
    tab = tab.replace_schema_metadata({"lakeapi.config": json.dumps({"version": 7})})
    path = str(tmp_path / "kv.parquet")
    papq.write_table(tab, path)
    assert load_embedded_config(path) == {"version": 7}


def test_config_from_data_absent_is_noop(spark, sf_dir):
    reg = TableRegistry(spark)
    reg.register(
        TableConfig(
            name="nation",
            datasource=DatasourceConfig(uri=f"{sf_dir}/nation.parquet"),
            config_from_data=True,
        )
    )
    assert reg.config("nation").params == []


def test_limit_clamping():
    assert clamp_limit(None, False) == 100
    assert clamp_limit(50000, False) == 1000
    assert clamp_limit(-1, False) == 1000
    assert clamp_limit(-1, True) is None
    assert clamp_limit(50000, True) == 50000


def test_search_paging_deterministic_on_tied_scores(spark, search_registry):
    """r2 ADVICE: scores are small integers with many ties; without a
    tiebreak, page N and N+1 can overlap or drop rows. Search paging now
    orders by (score desc, configured sortby, monotonic id) — consecutive
    pages must tile the full result exactly."""
    full = compile_request(
        search_registry, "parts_searchable", {}, search_text="widget", limit=-1
    )
    all_keys = [r.p_partkey for r in full.collect()]
    n = len(all_keys)
    assert n > 10

    pages: list[int] = []
    page_size = 7
    for off in range(0, n, page_size):
        page = compile_request(
            search_registry, "parts_searchable", {},
            search_text="widget", limit=page_size, offset=off,
        )
        pages.extend(r.p_partkey for r in page.collect())
    assert len(pages) == n
    assert len(set(pages)) == n, "pages overlap on tied scores"
    assert set(pages) == set(all_keys)
    # tied scores resolve by the configured sortby (p_partkey asc)
    assert pages == sorted(pages)


def test_config_from_data_cannot_override_trust_fields(spark, tmp_path):
    """r2 ADVICE: whoever writes the data writes the embedded config, so the
    merge is a trust boundary — uri / engine / allow_get_all_pages /
    file_type must stay operator-controlled."""
    import json

    d = tmp_path / "tainted"
    spark.createDataFrame([(1, "a")], ["id", "val"]).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(d))
    (d / "_lakeapi_config.json").write_text(
        json.dumps(
            {
                "name": "hijacked",
                "engine": "duckdb",
                "allow_get_all_pages": True,
                "params": [{"name": "id", "operators": ["="]}],
                "datasource": {
                    "uri": "/etc/passwd",
                    "file_type": "csv",
                    "select": [{"name": "id"}],
                },
            }
        )
    )
    reg = TableRegistry(spark)
    reg.register(
        TableConfig(
            name="safe", datasource=DatasourceConfig(uri=str(d)), config_from_data=True
        )
    )
    cfg = reg.config("safe")
    # whitelisted fields merged
    assert [p.name for p in cfg.params] == ["id"]
    assert [s["name"] for s in cfg.datasource.select] == ["id"]
    # operator-controlled fields kept
    assert cfg.name == "safe"
    assert cfg.engine == "spark"
    assert cfg.allow_get_all_pages is False
    assert cfg.datasource.uri == str(d)
    assert cfg.datasource.file_type == "parquet"
    assert compile_request(reg, "safe", {}).collect()[0].id == 1


def test_wildcard_registration_expands_children(spark, tmp_path):
    """name='*' + uri='folder/*' registers one table per child via the
    Hadoop FS listing (ref config.py:341-382)."""
    for t, rows in [("apples", [(1, "gala")]), ("pears", [(2, "bosc")])]:
        spark.createDataFrame(rows, ["id", "variety"]).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp_path / t))
    reg = TableRegistry(spark)
    reg.register(
        TableConfig(name="*", datasource=DatasourceConfig(uri=str(tmp_path) + "/*"))
    )
    assert reg.names() == ["apples", "pears"]
    assert [r.variety for r in compile_request(reg, "pears", {}).collect()] == ["bosc"]


def test_search_method_bm25_served_from_index(spark, sf_dir):
    """SearchConfig(method='bm25') serves search from the per-table-version
    inverted index (the reference's duckdb FTS path), ranking by BM25 and
    dropping non-matching rows; repeated requests reuse the cached index."""
    from lakeapi_spark.config import SearchConfig
    from lakeapi_spark.operators.search import _BM25_CACHE, bm25_search

    reg = TableRegistry(spark)
    reg.register(
        TableConfig(
            name="docs_bm25",
            datasource=DatasourceConfig(
                uri=f"{sf_dir}/documents.parquet",
                # tiebreak on doc_id so paging order is fully deterministic
                # and comparable with the operator-level ordering
                sortby=[{"by": "doc_id", "direction": "asc"}],
            ),
            search=[
                SearchConfig(
                    name="search", columns=["text"], method="bm25", id_column="doc_id"
                )
            ],
        )
    )
    before = {k for k in _BM25_CACHE if k[0].startswith("search:docs_bm25:")}
    out = compile_request(reg, "docs_bm25", {}, search_text="spark window", limit=10)
    rows = out.collect()
    assert 0 < len(rows) <= 10
    scores = [r.search_score for r in rows]
    assert scores == sorted(scores, reverse=True)

    # ranking parity with the operator-level BM25 on the same corpus
    expect = bm25_search(
        reg.dataframe("docs_bm25"), "doc_id", "text", "spark window",
        score_col="search_score",
    )
    top = expect.select("doc_id", "search_score").limit(10).collect()
    assert [(r.doc_id, r.search_score) for r in rows] == [
        (r.doc_id, r.search_score) for r in top
    ]

    # second request hits the cache (one index per table version)
    compile_request(reg, "docs_bm25", {}, search_text="spark", limit=5).collect()
    after = [k for k in _BM25_CACHE if k[0].startswith("search:docs_bm25:")]
    assert len(after) - len(before) == 1
    for k in after:
        _BM25_CACHE.pop(k).unpersist()


@pytest.mark.parametrize("method", ["like", "bm25"])
def test_whitespace_search_text_is_typed_error(spark, sf_dir, method):
    """All-space search text passes the length floor but names no term:
    both methods raise SearchTooShortError before building anything (the
    LIKE path used to hit an ``assert``, the BM25 path an empty job)."""
    from lakeapi_spark.config import SearchConfig
    from lakeapi_spark.operators.search import _BM25_CACHE, SearchTooShortError

    reg = TableRegistry(spark)
    reg.register(
        TableConfig(
            name="docs_ws",
            datasource=DatasourceConfig(uri=f"{sf_dir}/documents.parquet"),
            search=[SearchConfig("search", ["text"], method, id_column="doc_id")],
        )
    )
    before = set(_BM25_CACHE)
    for text in ("   ", "     "):
        with pytest.raises(SearchTooShortError):
            compile_request(reg, "docs_ws", {}, search_text=text)
    assert set(_BM25_CACHE) == before


def test_serve_request_streams_unbounded_exports(spark, sf_dir):
    """limit=-1 on an allow_get_all_pages table returns a chunk
    iterator (never a whole-result buffer); bounded requests return
    bytes; contents agree."""
    import io
    import json as _json
    import xml.etree.ElementTree as ET
    import zipfile
    from collections.abc import Iterator

    from lakeapi_spark.config import DatasourceConfig, TableConfig
    from lakeapi_spark.registry import TableRegistry, serve_request

    reg = TableRegistry(spark)
    reg.register(
        TableConfig(
            name="nation",
            datasource=DatasourceConfig(uri=f"{sf_dir}/nation.parquet"),
            allow_get_all_pages=True,
        )
    )
    whole = serve_request(reg, "nation", fmt="ndjson", limit=25)
    assert isinstance(whole, bytes)
    stream = serve_request(reg, "nation", fmt="ndjson", limit=-1)
    assert not isinstance(stream, bytes) and isinstance(stream, Iterator)
    streamed = b"".join(stream)
    rows_whole = sorted(_json.loads(ln)["n_name"] for ln in whole.decode().strip().split("\n"))
    rows_stream = sorted(_json.loads(ln)["n_name"] for ln in streamed.decode().strip().split("\n"))
    assert rows_whole == rows_stream and len(rows_stream) == 25
    # every format streams when unbounded, xlsx included
    xlsx = serve_request(reg, "nation", fmt="xlsx", limit=-1)
    assert isinstance(xlsx, Iterator)
    sheet = ET.fromstring(zipfile.ZipFile(io.BytesIO(b"".join(xlsx))).read("xl/worksheets/sheet1.xml"))
    ns = {"m": "http://schemas.openxmlformats.org/spreadsheetml/2006/main"}
    assert len(sheet.findall(".//m:row", ns)) == 25 + 1  # + header


def test_schema_refreshes_after_data_rewrite(spark, tmp_path):
    """The reference's datamove semantics (test_datamove.py:16-42 +
    meta_cache.update_incremental): a table rewritten underneath the
    server with a NEW column serves the new schema without a restart —
    the cache key carries the data's modified date."""
    import time

    path = str(tmp_path / "moving_tbl")
    spark.createDataFrame([(1, "a")], ["id", "name"]).write.parquet(path)
    reg = TableRegistry(spark)
    reg.register(
        TableConfig(name="moving", datasource=DatasourceConfig(uri=path))
    )
    s1 = reg.schema("moving")
    assert [f.name for f in s1.fields] == ["id", "name"]
    assert reg.schema("moving") is s1  # cached while data unchanged

    time.sleep(1.1)  # fs mtime granularity
    spark.createDataFrame([(1, "a", 9.5)], ["id", "name", "score"]).write.mode(
        "overwrite"
    ).parquet(path)
    spark.catalog.refreshByPath(path)
    s2 = reg.schema("moving")
    assert [f.name for f in s2.fields] == ["id", "name", "score"]


def _ids(payload: bytes, col: str = "id") -> list:
    import json

    return sorted(json.loads(ln)[col] for ln in payload.decode().splitlines() if ln)


def test_memo_serves_new_rows_after_single_file_overwrite(spark, tmp_path):
    """A single-file parquet table overwritten in place, with one more
    row and a new column, serves the new rows on the next request."""
    import json

    import pyarrow as pa
    import pyarrow.parquet as pq

    from lakeapi_spark.registry import serve_request

    path = str(tmp_path / "one.parquet")
    pq.write_table(pa.table({"id": [1, 2]}), path)
    reg = TableRegistry(spark)
    reg.register(TableConfig(name="one", datasource=DatasourceConfig(uri=path)))
    assert _ids(serve_request(reg, "one", fmt="ndjson")) == [1, 2]
    pq.write_table(pa.table({"id": [1, 2, 3], "tag": ["a", "b", "c"]}), path)
    rows = [json.loads(ln) for ln in serve_request(reg, "one", fmt="ndjson").splitlines()]
    assert sorted(rows, key=lambda r: r["id"]) == [
        {"id": 1, "tag": "a"}, {"id": 2, "tag": "b"}, {"id": 3, "tag": "c"}
    ]


def test_memo_serves_file_added_two_partition_levels_down(spark, tmp_path):
    """A file added inside ``a=1/b=2/`` bumps only that directory's
    mtime, which the one-level mtime probe does not see; the content
    summary half of the data version does."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from lakeapi_spark.registry import serve_request
    from lakeapi_spark.sources.fs import latest_modification

    path = str(tmp_path / "parted")
    spark.createDataFrame([(1, 1, 2)], ["id", "a", "b"]).write.partitionBy("a", "b").parquet(path)
    reg = TableRegistry(spark)
    reg.register(TableConfig(name="parted", datasource=DatasourceConfig(uri=path)))
    assert _ids(serve_request(reg, "parted", fmt="ndjson")) == [1]
    mtime = latest_modification(spark, path)
    pq.write_table(pa.table({"id": [7]}), f"{path}/a=1/b=2/extra.parquet")
    assert latest_modification(spark, path) == mtime
    assert _ids(serve_request(reg, "parted", fmt="ndjson")) == [1, 7]


def test_memo_serves_rows_of_a_delta_append(spark, tmp_path):
    """After a delta append, unpredicated and predicated (log-stats
    pruned) requests both serve the new row."""
    from lakeapi_spark.registry import serve_request
    from lakeapi_spark.sources.delta import write_delta

    path = str(tmp_path / "appended")
    write_delta(spark.createDataFrame([(1,)], ["id"]), path)
    reg = TableRegistry(spark)
    reg.register(
        TableConfig(
            name="appended",
            datasource=DatasourceConfig(uri=path, file_type="delta"),
            params=[ParamConfig(name="id")],
        )
    )
    assert _ids(serve_request(reg, "appended", fmt="ndjson")) == [1]
    assert _ids(serve_request(reg, "appended", {"id": 2}, fmt="ndjson")) == []
    write_delta(spark.createDataFrame([(2,)], ["id"]), path, mode="append")
    assert _ids(serve_request(reg, "appended", fmt="ndjson")) == [1, 2]
    assert _ids(serve_request(reg, "appended", {"id": 2}, fmt="ndjson")) == [2]


def test_registry_sql_reads_what_compile_request_serves(spark, tmp_path):
    """``TableRegistry.sql`` installs the tables a statement reads from the
    memoized scan: after a parquet rewrite and after a delta append it
    returns the new rows, the ones ``compile_request`` serves, although
    ``create_views`` installed views of the old scans. It sees only
    registered tables."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from lakeapi_spark.sources.delta import write_delta
    from lakeapi_spark.sql.endpoint import SqlValidationError

    flat = str(tmp_path / "flat.parquet")
    pq.write_table(pa.table({"id": [1, 2]}), flat)
    log = str(tmp_path / "logged")
    write_delta(spark.createDataFrame([(10,)], ["id"]), log)
    reg = TableRegistry(spark)
    reg.register(TableConfig(name="Flat", datasource=DatasourceConfig(uri=flat)))
    reg.register(TableConfig(name="logged", datasource=DatasourceConfig(uri=log, file_type="delta")))
    reg.create_views()

    def rows(sql):
        return sorted(tuple(r) for r in reg.sql(sql).collect())

    def served(name):
        return sorted(tuple(r) for r in compile_request(reg, name, {}).collect())

    assert rows("SELECT * FROM flat") == served("Flat") == [(1,), (2,)]
    assert rows("SELECT id FROM logged") == served("logged") == [(10,)]
    pq.write_table(pa.table({"id": [1, 2, 3], "tag": ["a", "b", "c"]}), flat)
    assert rows("SELECT * FROM flat") == served("Flat") == [(1, "a"), (2, "b"), (3, "c")]
    write_delta(spark.createDataFrame([(11,)], ["id"]), log, mode="append")
    assert rows("SELECT id FROM logged") == served("logged") == [(10,), (11,)]
    both = "SELECT f.id, l.id FROM flat f JOIN logged l ON l.id = f.id + 9"
    assert rows(both) == [(1, 10), (2, 11)]
    with pytest.raises(SqlValidationError, match="unauthorized"):
        reg.sql("SELECT * FROM logged JOIN unlisted USING (id)")
    with pytest.raises(SqlValidationError, match="read-only"):
        reg.sql("DROP TABLE logged")


def test_catalog_table_memo_follows_the_file_version(spark, sf_dir, tmp_path):
    """``catalog.table`` keeps one scan per file version on the session: a
    repeat call returns the same DataFrame, a rewritten file a new one, and
    the stale entry is dropped."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    from lakeapi_spark.catalog import _memo, table

    shutil.copy(f"{sf_dir}/nation.parquet", tmp_path / "nation.parquet")
    first = table(spark, str(tmp_path), "nation")
    assert table(spark, str(tmp_path), "nation") is first
    pq.write_table(pa.table({"n_nationkey": [1]}), tmp_path / "nation.parquet")
    second = table(spark, str(tmp_path), "nation")
    assert second is not first and second.columns == ["n_nationkey"]
    assert [v for k, v in _memo(spark).items() if k[0] == (str(tmp_path), "nation")] == [second]


def test_repeated_request_on_unchanged_table_runs_only_its_action(spark, sf_dir):
    """The memo skips the re-read: no file listing job, no schema
    inference job — the request's one Spark job is its action."""
    import json

    from lakeapi_spark.registry import serve_request

    reg = TableRegistry(spark)
    reg.register(
        TableConfig(
            name="nation",
            datasource=DatasourceConfig(uri=f"{sf_dir}/nation.parquet"),
            params=[ParamConfig(name="n_nationkey")],
        )
    )
    serve_request(reg, "nation", {"n_nationkey": 3})  # warms the memo
    sc = spark.sparkContext
    group = "memo-one-job"
    sc.setJobGroup(group, "repeated request")
    try:
        out = serve_request(reg, "nation", {"n_nationkey": 4})
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert [r["n_nationkey"] for r in json.loads(out)] == [4]
    assert _job_count(spark, group) == 1


def test_bm25_index_refreshes_for_data_path_relative_uri(spark, tmp_path):
    """The index is keyed by the memo's data version, probed at the
    RESOLVED uri: a data_path-relative BM25 table rewritten with a new
    doc finds it on the next search. The rewrite comes from outside the
    session (pyarrow), as a data move does: a Spark overwrite in the same
    session would recache the old index's lineage by itself."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from lakeapi_spark.config import SearchConfig
    from lakeapi_spark.operators.search import _BM25_CACHE

    (tmp_path / "docs").mkdir()

    def write(rows):
        ids, texts = zip(*rows)
        pq.write_table(pa.table({"doc_id": list(ids), "text": list(texts)}),
                       str(tmp_path / "docs" / "part-0.parquet"))

    write([(1, "spark window"), (2, "delta log")])
    reg = TableRegistry(spark, data_path=str(tmp_path))
    reg.register(
        TableConfig(
            name="rel_docs",
            datasource=DatasourceConfig(uri="docs"),
            search=[SearchConfig("text", ["text"], "bm25", "doc_id")],
        )
    )
    try:
        hits = compile_request(reg, "rel_docs", {}, search_text="spark").collect()
        assert [r.doc_id for r in hits] == [1]
        write([(1, "spark window"), (2, "delta log"), (3, "zebra spark")])
        hits = compile_request(reg, "rel_docs", {}, search_text="zebra").collect()
        assert [r.doc_id for r in hits] == [3]
    finally:
        for k in [k for k in _BM25_CACHE if k[0].startswith("search:rel_docs:")]:
            _BM25_CACHE.pop(k).unpersist()


def test_concurrent_requests_during_rewrite(spark, sf_dir, tmp_path, monkeypatch):
    """4 clients serve two tables while a fifth thread rewrites one of
    them: no call raises, every reply is the old or the new version,
    and the BM25 index is built once per version."""
    import sys
    import threading

    from lakeapi_spark.config import SearchConfig
    from lakeapi_spark.operators import search
    from lakeapi_spark.operators.search import _BM25_CACHE
    from lakeapi_spark.registry import serve_request
    from lakeapi_spark.sources.delta import write_delta

    path = str(tmp_path / "live_docs")
    old = [(1, "alpha one"), (2, "alpha two"), (3, "beta")]
    new = [(4, "alpha four"), (5, "gamma"), (6, "alpha six"), (7, "alpha seven")]
    write_delta(spark.createDataFrame(old, ["doc_id", "text"]), path)
    reg = TableRegistry(spark)
    reg.register(
        TableConfig(
            name="live_docs",
            datasource=DatasourceConfig(uri=path, file_type="delta"),
            search=[SearchConfig("text", ["text"], "bm25", "doc_id")],
        )
    )
    reg.register(
        TableConfig(
            name="nation",
            datasource=DatasourceConfig(uri=f"{sf_dir}/nation.parquet"),
            params=[ParamConfig(name="n_nationkey")],
        )
    )
    builds = []
    build = search.build_bm25_index

    def counting_build(df, id_col, text_col):
        builds.append(1)
        return build(df, id_col, text_col)

    monkeypatch.setattr(search, "build_bm25_index", counting_build)
    expected = {(1, 2), (4, 6, 7)}
    nation = serve_request(reg, "nation", {"n_nationkey": 5})
    replies, errors = [], []
    start = threading.Barrier(5)

    def client(i):
        try:
            start.wait()
            for j in range(4):
                if (i + j) % 2:
                    out = serve_request(reg, "live_docs", search_text="alpha", fmt="ndjson")
                    replies.append(tuple(_ids(out, "doc_id")))
                else:
                    assert serve_request(reg, "nation", {"n_nationkey": 5}) == nation
        except Exception as exc:  # noqa: BLE001 — reported below
            errors.append(exc)

    def writer():
        try:
            start.wait()
            write_delta(spark.createDataFrame(new, ["doc_id", "text"]), path, mode="overwrite")
        except Exception as exc:  # noqa: BLE001 — reported below
            errors.append(exc)

    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)  # more thread switches inside the memo
    try:
        threads = [threading.Thread(target=client, args=(i,)) for i in range(4)]
        threads.append(threading.Thread(target=writer))
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
        assert not any(t.is_alive() for t in threads)
        assert not errors, errors
        assert replies and set(replies) <= expected
        last = serve_request(reg, "live_docs", search_text="alpha", fmt="ndjson")
        assert tuple(_ids(last, "doc_id")) == (4, 6, 7)
        assert len(builds) == len(set(replies) | {(4, 6, 7)})
    finally:
        sys.setswitchinterval(switch)
        for k in [k for k in _BM25_CACHE if k[0].startswith("search:live_docs:")]:
            _BM25_CACHE.pop(k).unpersist()


def _job_count(spark, group: str) -> int:
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty(10_000)
    listed = jsc.statusStore().jobsList(None)  # a Scala Seq
    return sum(1 for j in (listed.apply(i) for i in range(listed.size()))
               if j.jobGroup().isDefined() and j.jobGroup().get() == group)


def test_warm_bm25_request_runs_three_jobs(spark, sf_dir):
    """A BM25 request on an unchanged table runs the term lookup, the
    scores broadcast and the top-k: three Spark jobs, whatever the terms."""
    from lakeapi_spark.config import SearchConfig
    from lakeapi_spark.operators.search import _BM25_CACHE
    from lakeapi_spark.registry import serve_request

    reg = TableRegistry(spark)
    reg.register(
        TableConfig(
            name="warm_docs",
            datasource=DatasourceConfig(uri=f"{sf_dir}/documents.parquet"),
            search=[SearchConfig("text", ["text"], "bm25", "doc_id")],
        )
    )
    sc = spark.sparkContext
    try:
        serve_request(reg, "warm_docs", search_text="spark window", limit=10)  # builds
        for i, text in enumerate(("spark window", "delta lake table")):
            sc.setJobGroup(f"warm-bm25-{i}", "warm bm25 request")
            try:
                assert serve_request(reg, "warm_docs", search_text=text, limit=10) != b"[]"
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            assert _job_count(spark, f"warm-bm25-{i}") <= 3
    finally:
        for k in [k for k in _BM25_CACHE if k[0].startswith("search:warm_docs:")]:
            _BM25_CACHE.pop(k).unpersist()


def test_bm25_index_follows_delta_commits(spark, tmp_path, monkeypatch):
    """Across appends, deletes (deletion vectors), updates and an id
    reused by an append, the served scores always equal those of a full
    build on the table as it stands, and those of ``bm25_search``. A commit that only adds rows of new ids
    refreshes the index without a full build, as does one that deletes
    or rewrites only rows added since the last full build; a commit that
    touches a file of the full build, appends an id it holds, or leaves
    more tail files than the session lists without a Spark job makes the next
    search build in full."""
    from lakeapi_spark.config import SearchConfig
    from lakeapi_spark.operators import search
    from lakeapi_spark.operators.search import _BM25_CACHE, bm25_scores, bm25_search
    from lakeapi_spark.sources.delta import delete_delta, update_delta, write_delta

    schema = "doc_id long, text string"
    words = ["spark", "window", "delta", "lake", "table", "index"]
    path = str(tmp_path / "live_bm25")
    write_delta(spark.createDataFrame(
        [(i, " ".join(words[(i + j) % 6] for j in range(1 + i % 4))) for i in range(20)], schema
    ).coalesce(1), path)
    reg = TableRegistry(spark)
    reg.register(
        TableConfig(
            name="live_bm25",
            datasource=DatasourceConfig(uri=path, file_type="delta"),
            search=[SearchConfig("text", ["text"], "bm25", "doc_id")],
        )
    )
    builds = []
    build = search.build_bm25_index

    def counting_build(df, id_col, text_col):
        builds.append(1)
        return build(df, id_col, text_col)

    monkeypatch.setattr(search, "build_bm25_index", counting_build)

    def append(*rows):
        write_delta(spark.createDataFrame(list(rows), schema), path, mode="append")

    listing = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    default_listing = spark.conf.get(listing)

    def append_past_listing_threshold(*rows):
        spark.conf.set(listing, "1")  # the tail now spans more files than this
        append(*rows)

    steps = [  # (commit, full builds so far, segments of the served index)
        (lambda: None, 1, 1),
        (lambda: append((100, "spark spark window"), (101, "lake"), (102, "window table")), 1, 2),
        (lambda: append((103, "spark index")), 1, 2),
        (lambda: delete_delta(spark, path, "doc_id = 100"), 1, 2),  # DV on a tail file
        (lambda: update_delta(spark, path, {"text": "'window spark'"}, "doc_id = 103"), 1, 2),
        (lambda: append((5, "spark again")), 2, 1),  # reuses an id of the full build
        (lambda: delete_delta(spark, path, "doc_id = 7"), 3, 1),  # DV on a full-build file
        (lambda: append((200, "window window")), 3, 2),
        (lambda: update_delta(spark, path, {"text": "'spark'"}, "doc_id = 2"), 4, 1),
        (lambda: append((300, "lake"), (301, "index spark")), 4, 2),
        (lambda: append_past_listing_threshold((302, "window"), (303, "lake")), 5, 1),
    ]
    try:
        for i, (commit, n_builds, n_segments) in enumerate(steps):
            commit()
            for text in ("spark window", "lake index"):
                got = {(r.doc_id, r.search_score) for r in compile_request(
                    reg, "live_bm25", {}, search_text=text, limit=100).collect()}
                table = reg.dataframe("live_bm25")
                full = build(table, "doc_id", "text")
                want = {tuple(r) for r in bm25_scores(full, text).collect()}
                full.unpersist()
                assert got == want and got, (i, text)
                # the relational scorer agrees, ids of several rows included
                oracle = bm25_search(table, "doc_id", "text", text).select("doc_id", "bm25_score")
                assert {tuple(r) for r in oracle.collect()} == want, (i, text)
            assert len(builds) == n_builds, i
            live = [v for k, v in _BM25_CACHE.items() if k[0].startswith("search:live_bm25:")]
            assert [len(idx.segments) for idx in live] == [n_segments], i
            if n_segments == 2 and len(prev.segments) == 2:
                assert live[0].segments[0] is prev.segments[0]  # the base is shared
                assert not prev.segments[1].postings.storageLevel.useMemory  # old tail released
            prev = live[0]
    finally:
        spark.conf.set(listing, default_listing)
        for k in [k for k in _BM25_CACHE if k[0].startswith("search:live_bm25:")]:
            _BM25_CACHE.pop(k).unpersist()


def test_bm25_index_extends_only_a_build_of_its_config(spark, tmp_path, monkeypatch):
    """An index is extended only from a full build of the same text
    columns and config: a second registry that serves the table's name
    and uri with other columns, a re-registration with other columns, and
    a tail past one task's share of the full build each rebuild in full,
    and the served scores equal a full build of the columns now
    configured."""
    from pyspark.sql import functions as F

    from lakeapi_spark.config import SearchConfig
    from lakeapi_spark.operators import scale, search
    from lakeapi_spark.operators.search import _BM25_CACHE, bm25_scores
    from lakeapi_spark.sources.delta import write_delta

    schema = "doc_id long, title string, body string"
    path = str(tmp_path / "cfg_bm25")
    write_delta(spark.createDataFrame(
        [(i, ["spark", "lake", "window"][i % 3], ["index", "table spark"][i % 2]) for i in range(12)],
        schema,
    ).coalesce(1), path)

    def registry(columns):
        reg = TableRegistry(spark)
        reg.register(TableConfig(
            name="cfg_bm25",
            datasource=DatasourceConfig(uri=path, file_type="delta"),
            search=[SearchConfig("text", columns, "bm25", "doc_id")],
        ))
        return reg

    builds = []
    build = search.build_bm25_index

    def counting_build(df, id_col, text_col):
        builds.append(1)
        return build(df, id_col, text_col)

    monkeypatch.setattr(search, "build_bm25_index", counting_build)
    n = iter(range(100, 200))

    def append_then_check(reg, columns, n_builds):
        i = next(n)
        write_delta(spark.createDataFrame([(i, "spark", "lake index")], schema), path, mode="append")
        text = F.concat_ws(" ", *[F.col(c) for c in columns]).alias("t")
        full = build(reg.dataframe("cfg_bm25").select("doc_id", text), "doc_id", "t")
        for q in ("spark", "lake index"):
            got = {(r.doc_id, r.search_score) for r in compile_request(
                reg, "cfg_bm25", {}, search_text=q, limit=100).collect()}
            assert got == {tuple(r) for r in bm25_scores(full, q).collect()} and got, (columns, q)
        full.unpersist()
        assert len(builds) == n_builds, columns

    try:
        title = registry(["title"])
        compile_request(title, "cfg_bm25", {}, search_text="spark", limit=1).collect()
        append_then_check(title, ["title"], 1)  # a tail on the title build
        both = registry(["title", "body"])
        append_then_check(both, ["title", "body"], 2)
        live = [k for k in _BM25_CACHE if k[0].startswith("search:cfg_bm25:")]
        old = [v for k, v in _BM25_CACHE.items() if k in live and "body" not in k[2][1]]
        title.register(TableConfig(
            name="cfg_bm25",
            datasource=DatasourceConfig(uri=path, file_type="delta"),
            search=[SearchConfig("text", ["body"], "bm25", "doc_id")],
        ))
        assert not any(k[0].startswith("search:cfg_bm25:") for k in _BM25_CACHE)
        assert not any(s.postings.storageLevel.useMemory for idx in old for s in idx.segments)
        append_then_check(title, ["body"], 3)
        append_then_check(title, ["body"], 3)  # a tail on the body build
        monkeypatch.setattr(scale, "BM25_TASK_BYTES", 1)  # one task's share is now tiny
        append_then_check(title, ["body"], 4)
    finally:
        for k in [k for k in _BM25_CACHE if k[0].startswith("search:cfg_bm25:")]:
            _BM25_CACHE.pop(k).unpersist()


def test_typed_config_errors_name_the_table(spark, sf_dir):
    """Config and request validation raises TableConfigError subclasses
    (ValueError) carrying the table name, never ``assert`` — which
    ``python -O`` strips."""
    from lakeapi_spark.config import (
        MissingNearbyConfigError,
        MissingSearchConfigError,
        NearbyConfig,
        SearchConfig,
        TableConfigError,
        WildcardUriError,
    )
    from lakeapi_spark.sources.readers import expand_wildcard

    reg = TableRegistry(spark)
    with pytest.raises(WildcardUriError) as exc:
        reg.register(TableConfig(name="*", datasource=DatasourceConfig(uri=sf_dir)))
    assert exc.value.table == "*" and isinstance(exc.value, ValueError)
    with pytest.raises(WildcardUriError):
        expand_wildcard(spark, sf_dir)

    uri = f"{sf_dir}/part.parquet"
    reg.register(TableConfig(name="plain", datasource=DatasourceConfig(uri=uri)))
    reg.register(
        TableConfig(
            name="no_id",
            datasource=DatasourceConfig(uri=uri),
            search=[SearchConfig("name", ["p_name"], "bm25")],
            nearby=[NearbyConfig("near", "p_size", "p_retailprice")],
        )
    )
    cases = [
        (MissingSearchConfigError, "plain", {"search_text": "green"}),
        (MissingSearchConfigError, "no_id", {"search_text": "green"}),
        (MissingNearbyConfigError, "plain", {"nearby_point": (1.0, 2.0, 3.0)}),
    ]
    for err, table, kwargs in cases:
        with pytest.raises(err) as exc:
            compile_request(reg, table, {}, **kwargs)
        assert isinstance(exc.value, TableConfigError) and exc.value.table == table
        assert repr(table) in str(exc.value)


def test_compile_request_delta_log_stats_skipping(spark, tmp_path):
    """A served DELTA table skips whole files by LOG stats derived from
    the request's AND filters — metadata pruning above Catalyst. Same
    rows either way; fewer files opened."""
    from lakeapi_spark.registry import TableRegistry, compile_request
    from lakeapi_spark.sources.delta import write_delta

    path = str(tmp_path / "delta_tbl")
    # one file per k-century via the partition layout -> disjoint stats
    df = spark.range(400).selectExpr(
        "id AS k", "id * 2 AS v", "CAST(id DIV 100 AS STRING) AS bucket"
    )
    write_delta(df, path, mode="append", partition_by=["bucket"])
    reg = TableRegistry(spark)
    reg.register(
        TableConfig(
            name="t",
            datasource=DatasourceConfig(uri=path, file_type="delta"),
            params=[ParamConfig(name="k", operators=["=", "<=", ">=", "between"])],
        )
    )
    unfiltered_files = len(reg.dataframe("t").inputFiles())
    out = compile_request(reg, "t", {"k_between": [120, 180]}, limit=-1)
    assert len(out.inputFiles()) < unfiltered_files
    rows = out.collect()
    assert sorted(r.k for r in rows) == list(range(120, 181))
    # equality: prunes to a single file's worth of scan
    out_eq = compile_request(reg, "t", {"k": 250})
    assert len(out_eq.inputFiles()) <= len(out.inputFiles())
    assert [r.v for r in out_eq.collect()] == [500]


def _live_docs(spark, tmp_path, name):
    """A 20-row delta table of ``doc_id``/``text`` registered with a
    ``doc_id`` param and BM25 search."""
    from lakeapi_spark.config import SearchConfig
    from lakeapi_spark.sources.delta import write_delta

    words = ["spark", "window", "delta", "lake", "table", "index"]
    path = str(tmp_path / name)
    write_delta(spark.createDataFrame(
        [(i, " ".join(words[(i + j) % 6] for j in range(1 + i % 4))) for i in range(20)],
        "doc_id long, text string",
    ).repartition(4), path)
    reg = TableRegistry(spark)
    reg.register(TableConfig(
        name=name,
        datasource=DatasourceConfig(uri=path, file_type="delta"),
        params=[ParamConfig(name="doc_id")],
        search=[SearchConfig("text", ["text"], "bm25", "doc_id")],
    ))
    return reg, path


def _drop_indexes(name):
    from lakeapi_spark.operators.search import _BM25_CACHE

    for k in [k for k in _BM25_CACHE if k[0].startswith(f"search:{name}:")]:
        _BM25_CACHE.pop(k).unpersist()


def test_request_probes_its_delta_table_once(spark, tmp_path, monkeypatch):
    """On a warm delta table, an unpredicated, a predicated (log-stats
    pruned) and a predicated BM25 request each compile with one
    data-version probe and no log listing: everything comes from one
    read of the scan memo."""
    from lakeapi_spark.sources import fs

    reg, _path = _live_docs(spark, tmp_path, "probed")
    shapes = {
        "unpredicated": ({}, {}),
        "predicated": ({"doc_id": 3}, {}),
        "predicated bm25": ({"doc_id": 3}, {"search_text": "spark window"}),
    }
    try:
        for params, kwargs in shapes.values():  # warm the memo and the index
            compile_request(reg, "probed", params, **kwargs).collect()
        calls = []
        for fn in ("data_version", "list_children"):
            real = getattr(fs, fn)
            monkeypatch.setattr(fs, fn, lambda *a, _fn=fn, _real=real: calls.append(_fn) or _real(*a))
        counts = {}
        for shape, (params, kwargs) in shapes.items():
            calls.clear()
            compile_request(reg, "probed", params, **kwargs)
            counts[shape] = (calls.count("data_version"), calls.count("list_children"))
        assert counts == dict.fromkeys(shapes, (1, 0))
    finally:
        _drop_indexes("probed")


def test_commit_during_compile_does_not_split_a_request(spark, tmp_path, monkeypatch):
    """A commit that lands while a predicated BM25 request compiles
    changes neither its rows nor its scores: both come from the version
    read at the start, as ``bm25_search`` over that version scores them."""
    from lakeapi_spark import registry
    from lakeapi_spark.operators.search import bm25_search
    from lakeapi_spark.sources.delta import delta_snapshot, read_delta, update_delta

    reg, path = _live_docs(spark, tmp_path, "split")
    before = delta_snapshot(spark, path).version
    apply_query = registry.apply_query
    commits = []

    def committing(df, req):
        if not commits:
            commits.append(update_delta(spark, path, {"text": "'spark spark spark spark'"}, "doc_id = 3"))
        return apply_query(df, req)

    monkeypatch.setattr(registry, "apply_query", committing)
    try:
        got = [(r.doc_id, r.text, r.search_score) for r in compile_request(
            reg, "split", {"doc_id": 3}, search_text="spark").collect()]
        assert commits and delta_snapshot(spark, path).version > before
        old = read_delta(spark, path, {"versionAsOf": str(before)})
        want = [(r.doc_id, r.text, r.bm25_score) for r in bm25_search(
            old, "doc_id", "text", "spark").where("doc_id = 3").collect()]
        assert got == want and got
    finally:
        _drop_indexes("split")


def test_predicates_from_filters_folding():
    """Only range-expressible ops with orderable scalars fold into
    skip boxes; everything else is conservatively ignored."""
    from lakeapi_spark.sources.delta import predicates_from_filters

    preds = predicates_from_filters(
        [
            ("a", "=", 5),
            ("b", ">=", "x"),
            ("c", "<", 2.5),
            ("d", "between", [1, 9]),
            ("e", "in", [1, 2]),          # not range-expressible
            ("f", "=", None),             # null-aware: skip
            ("g", "contains", "sub"),     # skip
            ("h", "=", True),             # bool: stats semantics differ
            ("i", "between", [None, 5]),  # half-open between: skip
        ]
    )
    assert preds == [
        ("a", 5, 5),
        ("b", "x", None),
        ("c", None, 2.5),
        ("d", 1, 9),
    ]
    assert predicates_from_filters([("s", "startswith", "ab")]) == [
        ("s", "ab", "ab\U0010ffff")
    ]


def test_predicate_coercion_untyped_params_and_timestamps():
    """Raw HTTP-style params ('5' against bigint) coerce to the stats
    representation; timestamp literals normalize to the isoformat the
    stats store ('T' separator); un-coercible values opt out instead
    of crashing or mis-pruning (review finding)."""
    import datetime as dt

    from pyspark.sql import types as T

    from lakeapi_spark.sources.delta import predicates_from_filters

    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("s", T.StringType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )
    preds = predicates_from_filters(
        [
            ("k", "=", "5"),                       # untyped numeric
            ("ts", ">=", "2024-01-02 00:00:00"),   # space -> T
            ("ts", "<", dt.date(2024, 2, 1)),      # date object
            ("k", "=", "not-a-number"),            # opts out
            ("s", "=", 7),                         # number on string col: out
        ],
        schema,
    )
    assert preds == [
        ("k", 5, 5),
        ("ts", "2024-01-02T00:00:00", None),
        # date-only literal pads to midnight so a boundary file whose
        # min isoformats to '...T00:00:00' is never lexically mis-pruned
        ("ts", None, "2024-02-01T00:00:00"),
    ]


def test_predicate_coercion_date_column_truncates_to_date():
    """DateType stats are plain 'YYYY-MM-DD'; a datetime / 'T00:00:00'
    literal must truncate to the date part or an equality filter at the
    boundary date lexically exceeds the file's max and wrongly prunes
    rows Spark's exact filter would match (advice finding, r6)."""
    import datetime as dt

    from pyspark.sql import types as T

    from lakeapi_spark.sources.delta import (
        _stats_overlap,
        predicates_from_filters,
    )

    schema = T.StructType([T.StructField("d", T.DateType())])
    preds = predicates_from_filters(
        [
            ("d", "=", dt.datetime(2024, 1, 2, 0, 0, 0)),
            ("d", ">=", "2024-01-02 00:00:00"),
            ("d", "<", dt.date(2024, 3, 1)),
        ],
        schema,
    )
    assert preds == [
        ("d", "2024-01-02", "2024-01-02"),
        ("d", "2024-01-02", None),
        ("d", None, "2024-03-01"),
    ]
    # the file whose min/max IS the boundary date must be kept
    stats = {
        "numRecords": 1,
        "minValues": {"d": "2024-01-02"},
        "maxValues": {"d": "2024-01-02"},
    }
    assert _stats_overlap(stats, [("d", "2024-01-02", "2024-01-02")])


def test_predicate_coercion_timestamp_midnight_boundary():
    """A date-only literal against a TimestampType column pads to
    'T00:00:00': timestamp stats isoformat midnight as
    '...T00:00:00', which lexically exceeds the bare date string and
    would wrongly prune the boundary file on equality."""
    from pyspark.sql import types as T

    from lakeapi_spark.sources.delta import (
        _stats_overlap,
        predicates_from_filters,
    )

    schema = T.StructType([T.StructField("ts", T.TimestampType())])
    preds = predicates_from_filters([("ts", "=", "2024-01-02")], schema)
    assert preds == [("ts", "2024-01-02T00:00:00", "2024-01-02T00:00:00")]
    stats = {
        "numRecords": 1,
        "minValues": {"ts": "2024-01-02T00:00:00"},
        "maxValues": {"ts": "2024-01-02T00:00:00"},
    }
    assert _stats_overlap(stats, preds)
