"""The local mirror of the driver's t2 gate: every registered query with an
oracle must match DuckDB exactly at the test scale factor."""

from __future__ import annotations

import pytest

from lakeapi_spark.queries import QUERIES
from tests.conftest import assert_matches_oracle

#: the slowest oracle check is in the soak tier (see conftest)
_WITH_ORACLE = [
    pytest.param(name, marks=pytest.mark.soak) if name == "kcore_copurchase" else name
    for name, q in QUERIES.items()
    if q.oracle is not None
]


@pytest.mark.parametrize("name", _WITH_ORACLE)
def test_query_matches_oracle(spark, oracle_con, sf_dir, name):
    q = QUERIES[name]
    assert_matches_oracle(spark, oracle_con, q.build, q.oracle, sf_dir)


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert df.schema is not None


@pytest.mark.soak
def test_all_queries_run(spark, sf_dir):
    """Queries without an oracle still must run and return a DataFrame."""
    for name, q in QUERIES.items():
        df = q.build(spark, sf_dir)
        assert df.count() >= 0, name


@pytest.mark.soak
def test_oracle_types_survive_driver_canon(oracle_con):
    """Driver-canon type lint (cost round 2: CORRECTNESS_r02 hash-fails).

    The repo's stringified-cell compare is type-insensitive, but the
    driver canonicalizes through pandas, where types leak into the hash.
    Two classes of oracle output break it:

    - DuckDB ``SUM(integer)`` returns HUGEINT -> Arrow decimal128(38,0)
      -> pandas ``Decimal``, while Spark returns int64. Every integer
      SUM must be ``CAST(... AS BIGINT)``.
    - Nested (list/struct/map) columns: the driver's pandas
      ``sort_values`` over all columns dies on unhashable lists.
    """
    import pyarrow as pa

    for name, q in QUERIES.items():
        if q.oracle is None:
            continue
        schema = oracle_con.sql(q.oracle).arrow().schema
        for field in schema:
            t = field.type
            assert not (pa.types.is_decimal(t) and t.precision == 38 and t.scale == 0), (
                f"{name}.{field.name}: decimal128(38,0) = un-cast integer SUM "
                f"(DuckDB HUGEINT); CAST(... AS BIGINT) in the oracle"
            )
            assert not (
                pa.types.is_nested(t)
            ), f"{name}.{field.name}: nested type {t} crashes the driver canonicalizer"


@pytest.mark.soak
def test_spark_results_survive_driver_canon(spark, sf_dir):
    """Spark side of the same lint: no registered query may expose a
    nested (array/map/struct) column — serialize (to_json / concat_ws)
    in the registered query, keep the typed API for library callers.
    Analysis-only (schema), no job execution."""
    from pyspark.sql import types as T

    for name, q in QUERIES.items():
        for field in q.build(spark, sf_dir).schema.fields:
            assert not isinstance(
                field.dataType, (T.ArrayType, T.MapType, T.StructType)
            ), f"{name}.{field.name}: nested type {field.dataType} crashes the driver canon"


def test_plans_md_covers_every_bench_query():
    """PLANS.md lockstep lint: every bench-flagged query must have a
    '## <name>' plan-audit section, so the plan audit can't silently
    rot as bench queries are added (r4/r5 advice)."""
    import os
    import re

    plans_path = os.path.join(os.path.dirname(__file__), "..", "PLANS.md")
    with open(plans_path) as f:
        sections = set(re.findall(r"^## (\S+)", f.read(), flags=re.M))
    bench = {n for n, q in QUERIES.items() if q.bench}
    missing = sorted(bench - sections)
    assert not missing, (
        f"bench queries without a PLANS.md section: {missing} — "
        "add a '## <name>' plan audit for each"
    )


def test_plans_md_lint_trips_on_unaudited_query():
    """The lint above must actually fire: a synthetic bench query with
    no PLANS.md section makes it fail."""
    from lakeapi_spark.queries import Query

    QUERIES["_synthetic_unaudited"] = Query(
        build=lambda spark, sf: None, oracle=None, bench=True
    )
    try:
        with pytest.raises(AssertionError, match="_synthetic_unaudited"):
            test_plans_md_covers_every_bench_query()
    finally:
        del QUERIES["_synthetic_unaudited"]
