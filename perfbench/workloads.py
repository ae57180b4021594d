"""The two workloads: their layouts, seeded requests, execution and checks.

Each workload is a closed loop. A client draws its requests one *block*
at a time (one op of every class, in a seeded order) and sends the next
request only after the previous reply was read to the last byte, so the
class mix of a run does not depend on where the time window ends.

Requests are drawn from the seed over keys that exist in the data, so
every result is non-empty. The program sees only the generated
parameters; the DuckDB SQL kept next to each request is the oracle the
output is checked against after the timed window.
"""

from __future__ import annotations

import os
import random
import shutil
from dataclasses import dataclass, field
from typing import Any

import numpy as np
import pyarrow.parquet as pq

import check
from datagen import PART_ADJ, PART_NOUN, PRIORITIES, VOCAB

#: words long enough to pass the search length floor on their own
SEARCH_WORDS = [w for w in VOCAB if len(w) >= 3]
#: the headline query of serve_lookup's ``query`` class: TPC-H Q6, a
#: filtered scan and one aggregate, on the same ~0.3 s floor as the
#: other small requests
QUERY = "q6_revenue_forecast"


@dataclass
class Req:
    cls: str
    table: str | None = None
    params: dict[str, Any] = field(default_factory=dict)
    kwargs: dict[str, Any] = field(default_factory=dict)
    fmt: str = "json"
    sql: str | None = None  # run_sql text (the `sql` class)
    oracle: str | None = None  # DuckDB SQL for the expected rows
    ranked: int = 0  # >0: ranked search page of this size
    payload: Any = None  # what the op wrote (serve_writes)
    query: str | None = None  # QUERIES name (the `query` class)


class Workload:
    name = ""
    clients = 1
    #: ops per class whose output is checked after the window
    checks_per_class = 1

    def layout(self, ctx, dest: str) -> None:
        """Build the workload's tables under ``dest`` and register them."""

    def block(self, rng: random.Random, ctx) -> list[Req]:
        raise NotImplementedError

    def execute(self, ctx, req: Req):
        """Run one op and consume its whole reply; returns the reply."""
        from lakeapi_spark import registry

        out = registry.serve_request(ctx.registry, req.table, req.params, fmt=req.fmt, **req.kwargs)
        if isinstance(out, bytes):
            payload = out
        else:  # unbounded export: drain the chunk iterator
            payload = b"".join(out)
        ctx.tracer.count("serialize.bytes_out", len(payload))
        return payload

    def check(self, ctx, req: Req, out) -> str | None:
        got = check.decode(out, req.fmt)
        if req.ranked:
            return check.same_ranked(got, check.duck_rows(ctx.duck, req.oracle),
                                     req.ranked, "search_score")
        return check.same_rows(got, check.duck_rows(ctx.duck, req.oracle))


def _table(name: str, uri: str, **kw):
    from lakeapi_spark.config import DatasourceConfig, TableConfig

    ds = {k: kw.pop(k) for k in ("file_type", "sortby") if k in kw}
    return TableConfig(name=name, datasource=DatasourceConfig(uri=uri, **ds), **kw)


def _bm25_oracle(table: str, terms: list[str]) -> str:
    """BM25 exactly as operators/search.py scores it (k1=1.2, b=0.75,
    whitespace tokens of the lowercased text, score rounded to 4)."""
    inlist = ", ".join(f"'{t}'" for t in sorted(set(terms)))
    return f"""
    WITH t AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok FROM {table}),
    t2 AS (SELECT * FROM t WHERE tok <> ''),
    dl AS (SELECT d.doc_id, count(t2.tok) AS dl FROM {table} d LEFT JOIN t2 USING (doc_id)
           GROUP BY d.doc_id),
    st AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dl),
    tf AS (SELECT doc_id, tok, count(*) AS tf FROM t2 WHERE tok IN ({inlist}) GROUP BY 1, 2),
    df AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
    sc AS (SELECT tf.doc_id,
                  round(sum(ln((st.n - df.df + 0.5) / (df.df + 0.5) + 1) * tf.tf * 2.2
                        / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / st.avgdl))), 4)
                  AS search_score
           FROM tf JOIN df USING (tok) JOIN dl USING (doc_id), st GROUP BY tf.doc_id)
    SELECT {table}.*, search_score FROM {table} JOIN sc USING (doc_id)
    """


class ServeLookup(Workload):
    """Small json requests from 2 clients: the per-request floor."""

    name = "serve_lookup"
    clients = 2
    checks_per_class = 2
    classes = ("point", "prune", "delta_point", "page", "bm25", "like", "sql", "query")

    def layout(self, ctx, dest):
        from lakeapi_spark.config import ParamConfig, SearchConfig
        from lakeapi_spark.registry import TableRegistry
        from lakeapi_spark.sources import partitioned
        from lakeapi_spark.sources.delta import write_delta

        spark, sf = ctx.spark, ctx.sf_dir
        shutil.rmtree(os.path.join(partitioned.CACHE_ROOT, "partitioned"), ignore_errors=True)
        partitioned.partitioned_copy(spark, sf, "orders", ["o_orderstatus"])
        by_status = os.path.join(partitioned.CACHE_ROOT, "partitioned",
                                 os.path.basename(sf), "orders_by_o_orderstatus")
        orders_delta = os.path.join(dest, "orders_delta")
        # 8 key-range files, so log-stats skipping has files to drop
        write_delta(spark.read.parquet(f"{sf}/orders.parquet").repartitionByRange(8, "o_orderkey"),
                    orders_delta)
        reg = TableRegistry(spark)
        reg.register(_table("lineitem", f"{sf}/lineitem.parquet", params=[ParamConfig("l_orderkey")]))
        reg.register(_table("orders_by_status", by_status,
                            params=[ParamConfig("o_orderstatus"), ParamConfig("o_orderkey")]))
        reg.register(_table("orders_delta", orders_delta, file_type="delta",
                            params=[ParamConfig("o_orderkey")]))
        reg.register(_table("orders_page", f"{sf}/orders.parquet",
                            params=[ParamConfig("o_orderpriority")],
                            sortby=[{"by": "o_totalprice", "direction": "desc"},
                                    {"by": "o_orderkey", "direction": "asc"}]))
        reg.register(_table("documents", f"{sf}/documents.parquet",
                            search=[SearchConfig("text", ["text"], "bm25", "doc_id")]))
        reg.register(_table("part", f"{sf}/part.parquet",
                            search=[SearchConfig("name", ["p_name"], "like")]))
        reg.create_views()
        ctx.registry = reg

    def keys(self, ctx):
        if ctx.keys is None:
            sf = ctx.sf_dir
            li = pq.read_table(f"{sf}/lineitem.parquet", columns=["l_orderkey"])
            orders = pq.read_table(f"{sf}/orders.parquet", columns=["o_orderstatus"])
            ctx.keys = {
                "lineitem": np.unique(li.column(0).to_numpy()),
                "status": orders.column(0).to_pylist(),
            }
        return ctx.keys

    def block(self, rng, ctx):
        keys = self.keys(ctx)
        out = []
        for cls in rng.sample(self.classes, len(self.classes)):
            if cls == "point":
                k = int(keys["lineitem"][rng.randrange(len(keys["lineitem"]))])
                r = Req(cls, "lineitem", {"l_orderkey": k},
                        oracle=f"SELECT * FROM lineitem WHERE l_orderkey = {k}")
            elif cls in ("prune", "delta_point"):
                k = rng.randrange(len(keys["status"]))
                if cls == "prune":
                    r = Req(cls, "orders_by_status", {"o_orderstatus": keys["status"][k], "o_orderkey": k})
                else:
                    r = Req(cls, "orders_delta", {"o_orderkey": k})
                r.oracle = f"SELECT * FROM orders WHERE o_orderkey = {k}"
            elif cls == "page":
                p, off = rng.choice(PRIORITIES), 100 * rng.randrange(200)
                r = Req(cls, "orders_page", {"o_orderpriority": p}, {"limit": 100, "offset": off},
                        oracle=f"SELECT * FROM orders WHERE o_orderpriority = '{p}' "
                               f"ORDER BY o_totalprice DESC, o_orderkey LIMIT 100 OFFSET {off}")
            elif cls == "bm25":
                terms = rng.sample(SEARCH_WORDS, 2)
                r = Req(cls, "documents", kwargs={"search_text": " ".join(terms), "limit": 10},
                        oracle=_bm25_oracle("documents", terms), ranked=10)
            elif cls == "like":
                terms = [rng.choice(PART_ADJ), rng.choice(PART_NOUN)]
                hits = " + ".join(f"(lower(p_name) LIKE '%{t}%')::INT" for t in terms)
                r = Req(cls, "part", kwargs={"search_text": " ".join(terms), "limit": 10},
                        oracle=f"SELECT * FROM (SELECT *, {hits} AS search_score FROM part) "
                               f"WHERE search_score > 0", ranked=10)
            elif cls == "query":
                r = Req(cls, query=QUERY)
            else:
                a = rng.randrange(140_000)
                r = Req(cls, sql=(
                    "SELECT l_returnflag, l_linestatus, count(*) AS n_rows, sum(l_quantity) AS qty "
                    f"FROM lineitem WHERE l_orderkey BETWEEN {a} AND {a + 5000} "
                    "GROUP BY l_returnflag, l_linestatus"))
                r.oracle = r.sql
            out.append(r)
        return out

    def execute(self, ctx, req):
        if req.query is not None:
            return self._query(ctx, req.query)
        if req.sql is None:
            return super().execute(ctx, req)
        from lakeapi_spark import serialize
        from lakeapi_spark.sql import endpoint

        df = endpoint.run_sql(ctx.spark, req.sql, {"lineitem"})
        payload = serialize.serialize(df, "json")
        ctx.tracer.count("serialize.bytes_out", len(payload))
        return payload

    @staticmethod
    def _query(ctx, name):
        """A headline query, built and collected as bench.py runs it.
        Nothing is cleared after it: Q6 caches nothing, and clearing
        would drop the BM25 index the other client relies on."""
        import time

        from lakeapi_spark.queries import QUERIES

        with ctx.tracer.span("queries.build") as op:
            df = QUERIES[name].build(ctx.spark, ctx.sf_dir)
        if op is not None:
            op.counts["queries.build_end_ms"] = time.time() * 1000
            op.dfs.append(df)
        with ctx.tracer.span("queries.action"):
            return [r.asDict() for r in df.collect()]

    def check(self, ctx, req, out):
        if req.query is None:
            return super().check(ctx, req, out)
        from lakeapi_spark.queries import QUERIES

        return check.same_rows(out, check.duck_rows(ctx.duck, QUERIES[req.query].oracle))


class ServeWrites(Workload):
    """Commit, then read what was committed: every cache misses."""

    name = "serve_writes"
    checks_per_class = 10**9  # every read is checked
    batch = 8

    def layout(self, ctx, dest):
        from lakeapi_spark.config import ParamConfig, SearchConfig
        from lakeapi_spark.registry import TableRegistry
        from lakeapi_spark.sources.delta import write_delta

        path = os.path.join(dest, "docs_delta")
        write_delta(ctx.spark.read.parquet(f"{ctx.sf_dir}/documents.parquet"), path)
        reg = TableRegistry(ctx.spark)
        reg.register(_table("docs", path, file_type="delta", params=[ParamConfig("doc_id")],
                            search=[SearchConfig("text", ["text"], "bm25", "doc_id")],
                            allow_get_all_pages=True))
        ctx.registry = reg
        ctx.docs_path = path
        ctx.cycles = 0
        ctx.written = []

    def block(self, rng, ctx):
        n = ctx.cycles
        ctx.cycles += 1
        marker = f"mark{n}z"
        rows = []
        for i in range(self.batch):
            words = [rng.choice(VOCAB) for _ in range(rng.randrange(10, 40))]
            words.insert(rng.randrange(len(words) + 1), marker)
            text = " ".join(words)
            rows.append({"doc_id": 1_000_000 + n * self.batch + i, "text": text,
                         "lang": rng.choice(("en", "de")), "source": f"src{rng.randrange(20)}",
                         "n_chars": len(text)})
        ctx.written = ctx.written + rows
        new = rng.choice(rows)["doc_id"]
        old = rng.randrange(5000)
        return [
            Req("write", payload=rows),
            Req("lookup_new", "docs", {"doc_id": new}, payload=[r for r in rows if r["doc_id"] == new]),
            Req("search", "docs", kwargs={"search_text": marker, "limit": self.batch}, payload=rows),
            # a full export must hold every doc committed so far
            Req("export", "docs", kwargs={"limit": -1}, fmt="ndjson",
                oracle="SELECT * FROM documents", payload=ctx.written),
            Req("lookup_old", "docs", {"doc_id": old},
                oracle=f"SELECT * FROM documents WHERE doc_id = {old}"),
        ]

    def execute(self, ctx, req):
        if req.cls != "write":
            return super().execute(ctx, req)
        from pyspark.sql import types as T

        from lakeapi_spark.sources import delta

        schema = T.StructType([
            T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()), T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ])
        df = ctx.spark.createDataFrame([tuple(r.values()) for r in req.payload], schema)
        return delta.write_delta(df, ctx.docs_path, mode="append")

    def check(self, ctx, req, out):
        if req.cls == "write":
            # the reads after it carry the freshness check
            return None if isinstance(out, int) and out > 0 else f"commit returned {out!r}"
        if req.cls == "lookup_old":
            return super().check(ctx, req, out)
        got = check.decode(out, req.fmt)
        if req.cls == "export":
            return check.same_rows(got, check.duck_rows(ctx.duck, req.oracle) + req.payload)
        if req.cls == "search":
            # the marker is in this batch only: the page is exactly the batch
            got = [{k: v for k, v in r.items() if k != "search_score"} for r in got]
        return check.same_rows(got, req.payload)


WORKLOADS = {w.name: w for w in (ServeLookup, ServeWrites)}
