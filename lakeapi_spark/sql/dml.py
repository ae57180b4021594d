"""Guarded SQL DML over delta tables: DELETE / UPDATE statements routed
to the log-native writers (sources/delta.py).

The read endpoint (sql/endpoint.py) stays SELECT-only, as the
reference's sql route is. This module is the separate, opt-in write
surface: a caller hands `run_dml` a statement AND the table->delta-path
mapping it may touch. DELETE runs as deletion vectors, UPDATE as a
touched-files-only copy-on-write. A deployment that never imports this
module cannot mutate anything through SQL.

The statement is parsed once, by the read endpoint's Catalyst parser
(:func:`lakeapi_spark.sql.endpoint.parse`), and the parsed condition and
SET values reach delete_delta / update_delta as Columns: the tree that
was checked is the tree that runs. Only ``DeleteFromTable`` /
``UpdateTable`` over one unqualified table name passes; that name is
authorized before anything else is checked. Subqueries are refused: they
would read tables outside the mapping. DELETE needs an explicit WHERE,
and Spark parses ``DELETE FROM t`` to a literal-true condition, so a
condition that is foldable and true is refused (``WHERE true`` too); a
full-table delete is ``delete_delta(spark, path, "true")``."""

from __future__ import annotations

from py4j.java_gateway import JavaObject, is_instance_of
from pyspark.sql import Column, SparkSession

from lakeapi_spark.sql.endpoint import _SUBQUERY, SqlValidationError, _seq, expression_nodes, parse

_OPERATIONS = {"DeleteFromTable": "DELETE", "UpdateTable": "UPDATE"}


def parse_dml(
    spark: SparkSession, sql: str, tables: dict[str, str]
) -> tuple[str, str, str, list[tuple[str, JavaObject]], JavaObject | None]:
    """``(operation, table, path, [(column, value)], condition)`` of one
    DELETE or UPDATE statement, without running it. Values and the
    condition are parsed Catalyst expressions; the condition is None for
    an UPDATE without WHERE. Raises SqlValidationError (module docstring)."""
    plan = parse(spark, sql)
    operation = _OPERATIONS.get(plan.nodeName())
    if operation is None:
        raise SqlValidationError(
            f"only DELETE FROM ... WHERE and UPDATE ... SET are supported here, "
            f"got {plan.nodeName()!r} (SELECTs go through sql.endpoint.run_sql)"
        )
    target = plan.table()
    parts = target.multipartIdentifier() if target.nodeName() == "UnresolvedRelation" else None
    if parts is None or parts.size() != 1:
        raise SqlValidationError("the target must be one unqualified table name")
    name = parts.head().lower()
    lookup = {k.lower(): v for k, v in tables.items()}
    if name not in lookup:
        raise SqlValidationError(f"unknown or unauthorized table: {name}")
    sets = []
    if operation == "DELETE":
        cond = plan.condition()
        if cond.foldable() and cond.eval(None) is True:
            raise SqlValidationError(
                "DELETE requires an explicit WHERE that is not always true "
                "(a full-table delete is delete_delta(spark, path, 'true'))"
            )
    else:
        cond = plan.condition().get() if plan.condition().isDefined() else None
        for assignment in _seq(plan.assignments()):
            key = assignment.key()
            if key.nodeName() != "UnresolvedAttribute" or key.nameParts().size() != 1:
                raise SqlValidationError(f"SET target must be a column name: {key.sql()}")
            sets.append((key.nameParts().head(), assignment.value()))
    for expr in expression_nodes(*[v for _, v in sets], *[cond] if cond is not None else []):
        if is_instance_of(spark.sparkContext._gateway, expr, _SUBQUERY):
            raise SqlValidationError("subqueries are not allowed in DELETE / UPDATE")
    return operation, name, lookup[name], sets, cond


def run_dml(spark: SparkSession, sql: str, tables: dict[str, str]) -> dict:
    """Execute one DELETE or UPDATE statement against a delta table.

    ``tables`` maps statement table names (case-insensitive) to delta
    paths — the explicit authorization boundary: a name outside the
    mapping raises, full stop. Returns ``{"operation", "table",
    "version"}`` with the committed delta version (unchanged when the
    statement matched nothing)."""
    from lakeapi_spark.sources.delta import delete_delta, update_delta

    operation, name, path, sets, cond = parse_dml(spark, sql, tables)
    jvm = spark._jvm

    def column(expr: JavaObject) -> Column:
        node = jvm.org.apache.spark.sql.classic.ExpressionColumnNode.apply(expr)
        return Column(jvm.org.apache.spark.sql.Column(node))

    if operation == "DELETE":
        version = delete_delta(spark, path, column(cond))
    else:
        values = {c: column(v) for c, v in sets}
        version = update_delta(spark, path, values, "true" if cond is None else column(cond))
    return {"operation": operation, "table": name, "version": version}
