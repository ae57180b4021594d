"""SQL endpoint: validated pass-through to Spark SQL (§2.8, §3.2).

The reference parses user SQL with sqlglot, whitelists the statement
node type (Select / Union / Intersect / Except / CTE -> anything else
is HTTP 400), registers only the configured tables the AST references,
and executes the statement (endpoint/sql_endpoint.py:15-43,89-190).

Here Catalyst's own parser plays sqlglot's part, so the tree that is
checked is the tree that runs:

- parse (:func:`parse`, shared with the DML router ``sql/dml.py`` and
  the delta rule checks): the session's ``sqlParser().parsePlan``. A
  ``ParseException`` (bad syntax, unbalanced parens, more than one
  statement) and a statement nested past the parser's recursion limit
  are a :class:`SqlValidationError`.
- statement kind: every node of the parsed plan must be one of the
  read-only query nodes in ``_READ_ONLY``. The walk follows
  ``children()`` and ``innerChildren()``; the latter carries CTE bodies
  and subquery-expression plans, except those in a WINDOW clause, which
  the walk collects itself. It is a whitelist, not a ``Command``
  blacklist, because several writes are not commands
  (``INSERT OVERWRITE DIRECTORY``, ``FROM s INSERT INTO t``, ``CALL``,
  ``EXECUTE IMMEDIATE``), a script transform sits inside a SELECT, and
  ``IDENTIFIER('t')`` names its table only at analysis time.
- visibility: the ``UnresolvedRelation`` names, except references to a
  CTE in scope (see :func:`_gate`).

:func:`run_sql` parses with the session it was given and runs the plan
it checked on that session (``Dataset.ofRows``), rather than handing
the text to ``spark.sql`` for a second parse.
"""

from __future__ import annotations

from collections.abc import Iterator

from py4j.java_gateway import JavaGateway, JavaObject, is_instance_of
from py4j.protocol import Py4JJavaError
from pyspark.errors import ParseException
from pyspark.sql import DataFrame, SparkSession


class SqlValidationError(ValueError):
    """Maps to HTTP 400 in the service layer (ref sql_endpoint.py:118-124)."""


#: parsed-plan node kinds of a read-only query (Spark 4.1 parser output
#: for SELECT / set operations / CTEs / VALUES / table-valued functions /
#: hints / TABLESAMPLE / DISTRIBUTE BY / PIVOT / UNPIVOT). A kind belongs
#: here only if Catalyst's ``innerChildren()`` reaches every plan it holds
#: (``WithWindowDefinition`` does not; see :func:`_window_subqueries`).
_READ_ONLY = frozenset({
    "Project", "Filter", "Aggregate", "UnresolvedHaving", "Join", "LateralJoin",
    "Generate", "Union", "Intersect", "Except", "Distinct", "Sort",
    "GlobalLimit", "LocalLimit", "Offset", "SubqueryAlias",
    "UnresolvedSubqueryColumnAliases", "UnresolvedWith", "WithWindowDefinition",
    "UnresolvedRelation", "OneRowRelation", "LocalRelation",
    "UnresolvedInlineTable", "UnresolvedTableValuedFunction",
    "UnresolvedHint", "Sample", "RepartitionByExpression", "Pivot", "Unpivot",
})

_EXPRESSION = "org.apache.spark.sql.catalyst.expressions.Expression"
#: what the parser's recursion throws past its depth limit (~1,000 nested
#: parentheses)
_STACK_OVERFLOW = "java.lang.StackOverflowError"
_SUBQUERY = "org.apache.spark.sql.catalyst.expressions.SubqueryExpression"


def _seq(seq: JavaObject) -> list[JavaObject]:
    return [seq.apply(i) for i in range(seq.size())]


def expression_nodes(*roots: JavaObject) -> Iterator[JavaObject]:
    """Every node of the Catalyst expression trees under ``roots``."""
    todo = list(roots)
    while todo:
        expr = todo.pop()
        yield expr
        todo.extend(_seq(expr.children()))


def _window_subqueries(gateway: JavaGateway, node: JavaObject) -> list[JavaObject]:
    """The subquery plans of a WINDOW clause. Its specs sit in a Map,
    which Catalyst's ``expressions`` (and so ``innerChildren()``) skips."""
    specs = [spec for spec in _seq(node.windowDefinitions().values().toSeq())
             if is_instance_of(gateway, spec, _EXPRESSION)]  # not a `w2 AS w1` reference
    return [e.plan() for e in expression_nodes(*specs) if is_instance_of(gateway, e, _SUBQUERY)]


def _gate(gateway: JavaGateway, plan: JavaObject) -> set[str]:
    """Reject any node outside ``_READ_ONLY``; return the base relations.

    CTE scope follows Spark's resolution: a CTE body sees the enclosing
    scope plus the earlier definitions of its WITH, and its own name only
    under RECURSIVE; the query after the WITH sees every definition; a
    WITH inside a set-op member or subquery scopes only that subtree.
    Qualified names (``db.t``) are never CTE references and report
    their first part. Names are lower-cased, as Spark resolves them."""
    tables: set[str] = set()
    stack: list[tuple[JavaObject, frozenset[str]]] = [(plan, frozenset())]
    while stack:
        node, scope = stack.pop()
        kind = node.nodeName()
        if kind not in _READ_ONLY:
            raise SqlValidationError(
                f"statement kind {kind!r} is not allowed (read-only queries only)"
            )
        if kind == "UnresolvedRelation":
            parts = node.multipartIdentifier()
            name = parts.head().lower()
            if parts.size() > 1 or name not in scope:
                tables.add(name)
            continue
        if kind == "UnresolvedWith":
            recursive = node.allowRecursion()
            for cte in _seq(node.cteRelations()):
                name = cte._1().lower()
                stack.append((cte._2(), (scope | {name}) if recursive else scope))
                scope = scope | {name}
            stack.append((node.child(), scope))
            continue
        if kind == "WithWindowDefinition":
            stack.extend((p, scope) for p in _window_subqueries(gateway, node))
        stack.extend((c, scope) for c in _seq(node.children()) + _seq(node.innerChildren()))
    return tables


def parse(spark: SparkSession, text: str, *, expression: bool = False) -> JavaObject:
    """Parse ``text`` with ``spark``'s Catalyst parser: a plan, or with
    ``expression`` an expression. The parser reads its settings from the
    thread's active session, so ``spark`` is active for the parse, as it is
    inside ``spark.sql``. Text the parser rejects, or nests past its
    recursion limit, is a :class:`SqlValidationError`."""
    jss = spark._jsparkSession
    sessions = spark._jvm.org.apache.spark.sql.classic.SparkSession
    previous = sessions.getActiveSession()
    sessions.setActiveSession(jss)
    parser = jss.sessionState().sqlParser()
    try:
        return parser.parseExpression(text) if expression else parser.parsePlan(text)
    except ParseException as e:
        what = "expression" if expression else "statement"
        raise SqlValidationError(f"not a valid SQL {what}: {e.getMessage()}") from None
    except Py4JJavaError as e:
        if not is_instance_of(spark.sparkContext._gateway, e.java_exception, _STACK_OVERFLOW):
            raise
        raise SqlValidationError("statement nested too deeply to parse") from None
    finally:
        if previous.isDefined():
            sessions.setActiveSession(previous.get())
        else:
            sessions.clearActiveSession()


def _check(spark: SparkSession, sql: str) -> tuple[JavaObject, set[str]]:
    """Parse ``sql`` with ``spark``'s Catalyst parser and gate the plan."""
    plan = parse(spark, sql)
    return plan, _gate(spark.sparkContext._gateway, plan)


def validate_sql(sql: str) -> tuple[JavaObject, set[str]]:
    """Parse ``sql`` with the active session's Catalyst parser and raise
    SqlValidationError unless it is a single read-only query. Returns the
    parsed plan and the base tables it reads."""
    return _check(SparkSession.active(), sql)


def referenced_tables(sql: str) -> set[str]:
    """Every base relation ``sql`` reads, CTE references excluded (ref
    _register_tables, sql_endpoint.py:15-43). Raises SqlValidationError
    for anything :func:`validate_sql` rejects."""
    return validate_sql(sql)[1]


def run_sql(
    spark: SparkSession,
    sql: str,
    allowed_tables: set[str] | None = None,
) -> DataFrame:
    """Validate with ``spark``'s own parser, check table visibility, and
    run the validated plan on ``spark``."""
    plan, tables = _check(spark, sql)
    if allowed_tables is not None:
        check_visible(tables, allowed_tables)
    return run_checked(spark, plan)


def check_visible(tables: set[str], allowed_tables) -> None:
    """Raise SqlValidationError unless every name in ``tables`` (lower
    case, as :func:`_gate` reports them) is one of ``allowed_tables``."""
    unknown = tables - {t.lower() for t in allowed_tables}
    if unknown:
        raise SqlValidationError(f"unknown or unauthorized tables: {sorted(unknown)}")


def run_checked(spark: SparkSession, plan: JavaObject) -> DataFrame:
    """The DataFrame of a checked plan, analyzed on ``spark``."""
    jdf = spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows(spark._jsparkSession, plan)
    return DataFrame(jdf, spark)


def explain_sql(
    spark: SparkSession,
    sql: str,
    allowed_tables: set[str] | None = None,
    mode: str = "formatted",
) -> str:
    """EXPLAIN endpoint: the same validation + table-visibility gate as
    :func:`run_sql`, but returns the PHYSICAL PLAN STRING instead of
    executing — the introspection a serving API exposes so users can
    see pushdown/pruning/join strategy for their query without paying
    for it (and without any new attack surface: the statement itself
    still has to pass the read-only whitelist; only the explain mode
    string is extra, and it is validated against Spark's closed set).
    ``mode``: simple | extended | codegen | cost | formatted."""
    if mode not in ("simple", "extended", "codegen", "cost", "formatted"):
        raise SqlValidationError(f"unknown explain mode {mode!r}")
    df = run_sql(spark, sql, allowed_tables)
    jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    return df._jdf.queryExecution().explainString(jmode)
