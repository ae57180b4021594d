"""SQL endpoint validation + execution (ref tests/test_sql.py and
sql_endpoint.py whitelist semantics)."""

from __future__ import annotations

import pytest

from lakeapi_spark.catalog import TABLES, register_views
from lakeapi_spark.sql import SqlValidationError, run_sql, validate_sql
from lakeapi_spark.sql.endpoint import referenced_tables

# validation parses with the active session's Catalyst parser
pytestmark = pytest.mark.usefixtures("spark")


def test_select_allowed():
    validate_sql("SELECT 1")
    validate_sql("select n_name from nation where n_name = 'x' order by 1 limit 5")
    validate_sql("WITH t AS (SELECT 1 AS x) SELECT * FROM t")
    validate_sql("SELECT a FROM t1 UNION SELECT b FROM t2")
    validate_sql("SELECT a FROM t1 INTERSECT SELECT b FROM t2")
    validate_sql("SELECT a FROM t1 EXCEPT SELECT b FROM t2")
    validate_sql("SELECT * FROM t LIMIT 5 OFFSET 2")
    validate_sql("SELECT sum(x) OVER w FROM t WINDOW w AS (PARTITION BY y)")
    validate_sql("SELECT * FROM (SELECT 1) s(a)")
    validate_sql("SELECT sum(x) OVER w2 FROM t WINDOW w1 AS (PARTITION BY y), w2 AS w1")
    # hints, TABLESAMPLE, DISTRIBUTE/CLUSTER BY, PIVOT, UNPIVOT: each form
    # still reports the table a subquery inside it reads
    for sql in (
        "SELECT /*+ REPARTITION(2, (SELECT max(s) FROM secret)) */ * FROM pub",
        "SELECT * FROM pub, (SELECT * FROM secret) TABLESAMPLE (BUCKET 1 OUT OF 2)",
        "SELECT * FROM pub DISTRIBUTE BY (SELECT max(s) FROM secret)",
        "SELECT * FROM pub CLUSTER BY (SELECT max(s) FROM secret)",
        "SELECT * FROM pub PIVOT (count(*) FOR p IN ((SELECT max(s) FROM secret)))",
        "SELECT * FROM (SELECT p, (SELECT max(s) FROM secret) AS q FROM pub)"
        " UNPIVOT (v FOR k IN (p, q))",
    ):
        assert referenced_tables(sql) == {"pub", "secret"}, sql


@pytest.mark.parametrize(
    "sql",
    [
        "INSERT INTO t VALUES (1)",
        "DROP TABLE t",
        "SELECT * FROM t; DROP TABLE t",
        "CREATE TABLE t AS SELECT 1",
        "UPDATE t SET a = 1",
        "DELETE FROM t",
        "SET spark.sql.x = 1",
        "SHOW TABLES",
        "DESCRIBE t",
        "EXPLAIN SELECT 1",
        "SELECT * FROM t WHERE a = (SELECT 1",  # unbalanced
        "MERGE INTO t USING s ON t.id = s.id WHEN MATCHED THEN DELETE",
        # writes and side effects that are not Command nodes, or that
        # a first-keyword check would miss
        "INSERT OVERWRITE DIRECTORY '/tmp/x' SELECT 1",
        "FROM s INSERT INTO t SELECT *",
        "CALL sys.x()",
        "EXECUTE IMMEDIATE 'DROP TABLE t'",
        "CACHE TABLE t",
        "USE db",
        "ADD JAR /x.jar",
    ],
)
def test_rejected(sql):
    with pytest.raises(SqlValidationError):
        validate_sql(sql)


def test_keywords_in_strings_are_fine():
    validate_sql("SELECT * FROM t WHERE name = 'drop table users'")
    validate_sql("SELECT 'insert' AS action FROM t -- drop\n")


def test_referenced_tables():
    refs = referenced_tables(
        "WITH c AS (SELECT * FROM orders) SELECT * FROM c JOIN customer ON 1=1"
    )
    # scope-aware: c is a CTE reference, not a base relation
    assert refs == {"orders", "customer"}


def test_referenced_tables_cte_scoping_is_not_global():
    """Security regressions (r6 deep-nesting fuzz): global CTE-name
    subtraction let shadowing CTEs smuggle reads of the real table."""
    # non-recursive CTE body is NOT self-visible: the inner t is base
    assert referenced_tables(
        "WITH t AS (SELECT * FROM t) SELECT * FROM t"
    ) == {"t"}
    # ...but RECURSIVE makes the self-reference a CTE reference
    assert referenced_tables(
        "WITH RECURSIVE t AS (SELECT 1 UNION ALL SELECT * FROM t) SELECT * FROM t"
    ) == set()
    # a CTE does not escape its parenthesized set-op member
    assert referenced_tables(
        "(WITH a AS (SELECT 1) SELECT 1) UNION (SELECT * FROM a)"
    ) == {"a"}
    # earlier CTEs are visible to later bodies; later ones are not
    assert referenced_tables(
        "WITH a AS (SELECT * FROM base1), b AS (SELECT * FROM a) SELECT * FROM b"
    ) == {"base1"}
    assert referenced_tables(
        "WITH b AS (SELECT * FROM a), a AS (SELECT 1) SELECT * FROM b"
    ) == {"a"}
    # qualified names are never CTE references
    assert referenced_tables(
        "WITH t AS (SELECT 1) SELECT * FROM db.t, t"
    ) == {"db"}


def test_run_sql_cte_shadowing_blocked(spark, sf_dir):
    register_views(spark, sf_dir)
    with pytest.raises(SqlValidationError, match="unauthorized"):
        run_sql(
            spark,
            "WITH nation AS (SELECT * FROM nation) SELECT * FROM nation",
            allowed_tables={"region"},
        )
    with pytest.raises(SqlValidationError, match="unauthorized"):
        run_sql(
            spark,
            "(WITH nation AS (SELECT 1 AS x) SELECT x FROM nation)"
            " UNION (SELECT n_regionkey FROM nation)",
            allowed_tables={"region"},
        )
    # the legitimate shadow still runs: body reads only allowed tables
    assert run_sql(
        spark,
        "WITH nation AS (SELECT r_name FROM region) SELECT * FROM nation",
        allowed_tables={"region"},
    ).count() > 0


def test_adversarial_identifiers_not_rejected():
    """Regression (r1 verdict #4): forbidden-keyword matching anywhere
    false-400'd legal queries whose identifiers collide with keywords.
    The reference's sqlglot node-type whitelist has no such false positive."""
    validate_sql("SELECT set, add, copy, call, analyze FROM t")
    validate_sql("SELECT a AS set, b AS drop_count FROM t WHERE copy = 1")
    validate_sql("SELECT refresh, cache, uncache FROM t ORDER BY describe")
    validate_sql("SELECT t.insert, t.update FROM t")
    validate_sql("WITH x AS (SELECT grant, revoke FROM t) SELECT * FROM x")
    validate_sql("SELECT transform(arr, x -> x + 1) AS bumped FROM t")  # HOF, not script


def test_with_prologue_write_rejected():
    """Spark accepts WITH … INSERT INTO — the verb after the CTE prologue
    is what must be whitelisted, not just the first keyword."""
    with pytest.raises(SqlValidationError):
        validate_sql("WITH x AS (SELECT 1) INSERT INTO t SELECT * FROM x")
    with pytest.raises(SqlValidationError):
        validate_sql("WITH a AS (SELECT 1), b AS (SELECT 2) DELETE FROM t")


def test_script_transform_rejected():
    with pytest.raises(SqlValidationError):
        validate_sql("SELECT TRANSFORM(a) USING 'cat' FROM t")
    # join USING stays legal
    validate_sql("SELECT * FROM a JOIN b USING (id)")


def test_referenced_tables_comma_join_and_lateral():
    """Regression (r1 advice): comma joins bypassed the visibility check."""
    assert referenced_tables("SELECT * FROM allowed, secret") == {"allowed", "secret"}
    assert referenced_tables("SELECT * FROM a AS x, b y, c") == {"a", "b", "c"}
    assert referenced_tables(
        "SELECT * FROM a, LATERAL (SELECT * FROM hidden WHERE hidden.id = a.id) s"
    ) == {"a", "hidden"}
    # LATERAL VIEW generator functions are not tables
    assert referenced_tables(
        "SELECT * FROM docs LATERAL VIEW explode(tags) t AS tag"
    ) == {"docs"}
    # table-valued functions are not tables; commas inside call args inert
    assert referenced_tables("SELECT * FROM range(1, 10), real_table") == {"real_table"}
    assert referenced_tables(
        "SELECT * FROM (SELECT * FROM inner1) q, inner2"
    ) == {"inner1", "inner2"}


try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    _ADVERSARIAL = st.sampled_from(
        "set add copy call analyze drop merge insert update delete cache "
        "refresh show use grant revoke truncate vacuum optimize attach "
        "describe normal_col a b".split()
    )

    @settings(max_examples=60, deadline=None)
    @given(
        cols=st.lists(_ADVERSARIAL, min_size=1, max_size=4, unique=True),
        alias=_ADVERSARIAL,
        where_col=_ADVERSARIAL,
    )
    def test_hypothesis_valid_selects_never_400(cols, alias, where_col):
        """Any syntactically valid SELECT whose identifiers collide with
        write/DDL keywords must pass validation (ref has no such 400)."""
        col_list = ", ".join(cols)
        validate_sql(
            f"SELECT {col_list}, {cols[0]} AS {alias} FROM t "
            f"WHERE {where_col} = 1 ORDER BY {cols[0]} LIMIT 10"
        )
        validate_sql(
            f"WITH cte AS (SELECT {col_list} FROM t) "
            f"SELECT {alias} FROM cte JOIN u ON cte.x = u.x"
        )
except ImportError:  # pragma: no cover
    pass


def test_run_sql_comma_join_authorization(spark, sf_dir):
    register_views(spark, sf_dir)
    with pytest.raises(SqlValidationError, match="unauthorized"):
        run_sql(
            spark,
            "SELECT * FROM region, secret_table",
            allowed_tables=set(TABLES),
        )


def test_run_sql_authorization(spark, sf_dir):
    register_views(spark, sf_dir)
    with pytest.raises(SqlValidationError, match="unauthorized"):
        run_sql(spark, "SELECT * FROM secret_table", allowed_tables=set(TABLES))
    # CTE names must not trip the authorization check
    df = run_sql(
        spark,
        "WITH t AS (SELECT n_name FROM nation) SELECT COUNT(*) AS n FROM t",
        allowed_tables=set(TABLES),
    )
    assert df.collect()[0].n == 25


def test_run_sql_union(spark, sf_dir):
    register_views(spark, sf_dir)
    df = run_sql(
        spark,
        "SELECT r_name AS name FROM region UNION ALL SELECT n_name FROM nation",
        allowed_tables=set(TABLES),
    )
    assert df.count() == 30


def test_parenthesized_relation_visibility():
    """Spark's grammar allows '(' relation ')'; the scanner must capture the
    inner name or the allowed_tables check is silently bypassed (r2 ADVICE)."""
    assert referenced_tables("SELECT * FROM (secret_table)") == {"secret_table"}
    assert referenced_tables("SELECT * FROM ((secret_table))") == {"secret_table"}
    assert referenced_tables("SELECT * FROM (secret_table) x") == {"secret_table"}
    assert referenced_tables("SELECT * FROM (a JOIN b ON a.id = b.id)") == {"a", "b"}
    assert referenced_tables("SELECT * FROM (TABLE secret_table)") == {"secret_table"}
    # subqueries still scan at their own depth, no spurious capture
    assert referenced_tables("SELECT * FROM (SELECT 1)") == set()
    assert referenced_tables("SELECT * FROM (SELECT * FROM inner_t) s") == {"inner_t"}
    assert referenced_tables("SELECT * FROM (VALUES (1), (2)) t") == set()


def test_backtick_identifier_visibility():
    """Backticks are Spark's identifier quote: `secret` must not vanish with
    the string scrub. A quoted name that is not a plain word is reported
    as written, so it passes only when a table of that name is allowed."""
    assert referenced_tables("SELECT * FROM `secret_table`") == {"secret_table"}
    assert referenced_tables("SELECT * FROM (`secret_table`)") == {"secret_table"}
    assert referenced_tables("SELECT * FROM `weird name`") == {"weird name"}


def test_run_sql_scanner_bypasses_blocked(spark):
    """A text scanner that disagrees with Spark's parser let the first two
    read a hidden view: Spark's backslash-escaped quote hid ``FROM secret``
    inside a "string", and IDENTIFIER('...') names its table only at
    analysis time. The third hides its subquery from ``innerChildren()``:
    a WINDOW clause keeps its specs in a Map."""
    spark.createDataFrame([("public",)], "p STRING").createOrReplaceTempView("pub")
    spark.createDataFrame([("top-secret",)], "s STRING").createOrReplaceTempView("secret")
    window = ("SELECT count(*) OVER w FROM pub"
              " WINDOW w AS (ORDER BY CAST((SELECT max(s) FROM secret) AS INT))")
    try:
        with pytest.raises(SqlValidationError):
            run_sql(spark, "SELECT 'a\\'' AS x, s FROM secret --'", {"pub"})
        with pytest.raises(SqlValidationError):
            run_sql(spark, "SELECT * FROM IDENTIFIER('secret')", {"pub"})
        with pytest.raises(SqlValidationError, match="unauthorized"):
            run_sql(spark, window, {"pub"})
        assert referenced_tables(window) == {"pub", "secret"}
        assert run_sql(spark, "SELECT 'a\\'' AS x, p FROM pub", {"pub"}).collect()[0].x == "a'"
        assert run_sql(
            spark,
            "SELECT /*+ BROADCAST(pub) */ * FROM pub TABLESAMPLE (100 PERCENT) DISTRIBUTE BY p",
            {"pub"},
        ).collect()[0].p == "public"
    finally:
        spark.catalog.dropTempView("pub")
        spark.catalog.dropTempView("secret")


def test_run_sql_parses_with_the_given_session(spark):
    """run_sql parses under the session it runs on, not the active one:
    the parser reads settings such as escapedStringLiterals from the
    active session, so ``spark`` is made active for the parse and then
    restored."""
    sessions = spark._jvm.org.apache.spark.sql.classic.SparkSession
    active = sessions.getActiveSession().get()
    other = spark.newSession()
    other.conf.set("spark.sql.parser.escapedStringLiterals", "true")
    sql = "SELECT 'a\\n' AS x"
    assert run_sql(other, sql).collect()[0].x == "a\\n"
    assert sessions.getActiveSession().get().equals(active)
    assert run_sql(spark, sql).collect()[0].x == "a\n"


def test_run_sql_deep_nesting_is_typed_error(spark):
    """A statement nested past the parser's recursion limit raises the
    typed 400, not the JVM's StackOverflowError through py4j."""
    sql = "SELECT " + "(" * 3000 + "1" + ")" * 3000
    with pytest.raises(SqlValidationError, match="nested too deeply"):
        run_sql(spark, sql)


def test_parenthesized_setop_accepted():
    """(SELECT 1) UNION (SELECT 2) is a legal read-only statement — the
    reference's sqlglot Union whitelist accepts it (r2 ADVICE)."""
    validate_sql("(SELECT 1) UNION (SELECT 2)")
    validate_sql("((SELECT 1) UNION (SELECT 2)) INTERSECT (SELECT 3)")
    validate_sql("(WITH x AS (SELECT 1) SELECT * FROM x) UNION (SELECT 1)")
    with pytest.raises(SqlValidationError):
        validate_sql("(INSERT INTO t VALUES (1))")
    with pytest.raises(SqlValidationError):
        validate_sql("(DELETE FROM t)")


def test_run_sql_parenthesized_and_backtick_bypass_blocked(spark, sf_dir):
    register_views(spark, sf_dir)
    with pytest.raises(SqlValidationError, match="unauthorized"):
        run_sql(spark, "SELECT * FROM (nation)", allowed_tables={"region"})
    with pytest.raises(SqlValidationError, match="unauthorized"):
        run_sql(spark, "SELECT * FROM `nation`", allowed_tables={"region"})
    # and the legal forms still execute
    assert run_sql(
        spark, "(SELECT r_name FROM region) UNION (SELECT r_name FROM region)",
        allowed_tables={"region"},
    ).count() > 0
    assert run_sql(
        spark, "SELECT n_name FROM (nation) WHERE n_regionkey = 0",
        allowed_tables={"nation"},
    ).count() > 0


def test_relation_scanner_fuzz():
    """Grammar-driven fuzz: generate queries where the base-relation set is
    known by construction — plain names, backticked names, aliased tables,
    parenthesized relations (nested), parenthesized joins, subqueries,
    scalar subqueries, comma joins, set-ops — and assert the scanner
    recovers exactly that set and the validator accepts. The visibility
    check has been bypassed twice (comma joins r1, parenthesized/backtick
    relations r2); this pins the whole family."""
    import random

    pool = [f"tbl_{c}" for c in "abcdefgh"]

    def gen_rel(rnd: random.Random, depth: int, out: set) -> str:
        r = rnd.random()
        if r < 0.45 or depth >= 3:
            name = rnd.choice(pool)
            out.add(name)
            form = f"`{name}`" if rnd.random() < 0.25 else name
            return form + (f" a{rnd.randrange(9)}" if rnd.random() < 0.4 else "")
        if r < 0.6:  # parenthesized relation, possibly nested
            return "(" + gen_rel(rnd, depth + 1, out) + ")"
        if r < 0.75:  # parenthesized join
            a = gen_rel(rnd, depth + 1, out)
            b = gen_rel(rnd, depth + 1, out)
            return f"({a} JOIN {b} ON 1 = 1)"
        return "(" + gen_query(rnd, depth + 1, out) + ") s" + str(rnd.randrange(9))

    def gen_select(rnd: random.Random, depth: int, out: set) -> str:
        rels = [gen_rel(rnd, depth, out) for _ in range(rnd.randrange(1, 3))]
        sql = "SELECT x, y FROM " + ", ".join(rels)
        if rnd.random() < 0.3:
            sql += " JOIN " + gen_rel(rnd, depth, out) + " ON 1 = 1"
        if rnd.random() < 0.3:
            inner: set = set()
            sub = gen_query(rnd, depth + 1, inner)
            out |= inner
            sql += f" WHERE x > (SELECT max(x) FROM ({sub}) q)"
        if rnd.random() < 0.2:
            sql += " GROUP BY x, y"
        return sql

    def gen_query(rnd: random.Random, depth: int, out: set) -> str:
        if depth < 2 and rnd.random() < 0.25:
            op = rnd.choice(["UNION", "UNION ALL", "INTERSECT", "EXCEPT"])
            return (
                "(" + gen_select(rnd, depth + 1, out) + f") {op} ("
                + gen_select(rnd, depth + 1, out) + ")"
            )
        return gen_select(rnd, depth, out)

    rnd = random.Random(20260813)
    for i in range(300):
        expect: set = set()
        sql = gen_query(rnd, 0, expect)
        validate_sql(sql)  # must not 400
        got = referenced_tables(sql)
        assert got == expect, f"seed iter {i}: {sql!r}\n got {got}\n want {expect}"


def test_relation_scanner_fuzz_deep_cte_setop_nesting():
    """r5 advice hardening: parenthesized CTE + set-op nesting >= 3 deep.
    The generator composes set-ops of parenthesized CTE queries of
    set-ops (depth up to 5), with CTE names shadowing real table names —
    the scanner must exclude CTE aliases, recover exactly the base
    relations, and the validator must accept every generated form."""
    import random

    pool = [f"tbl_{c}" for c in "abcdefgh"]

    def gen_leaf(rnd: random.Random, out: set) -> str:
        name = rnd.choice(pool)
        out.add(name)
        return f"SELECT x FROM {name}"

    def gen(rnd: random.Random, depth: int, out: set) -> str:
        if depth <= 0:
            return gen_leaf(rnd, out)
        r = rnd.random()
        if r < 0.4:  # parenthesized set-op of two nested queries
            op = rnd.choice(["UNION", "UNION ALL", "INTERSECT", "EXCEPT"])
            return f"({gen(rnd, depth - 1, out)}) {op} ({gen(rnd, depth - 1, out)})"
        if r < 0.8:  # CTE whose body is itself nested; CTE name shadows
            cte = rnd.choice(pool) if rnd.random() < 0.3 else f"cte_{depth}"
            body: set = set()
            inner = gen(rnd, depth - 1, body)
            out |= body
            # the outer select reads ONLY the cte -> no new base relation
            return f"(WITH {cte} AS ({inner}) SELECT x FROM {cte})"
        return "(" + gen(rnd, depth - 1, out) + ")"

    rnd = random.Random(20260814)
    deep_seen = 0
    for i in range(300):
        expect: set = set()
        sql = gen(rnd, rnd.randrange(3, 6), expect)
        deep_seen += 1
        validate_sql(sql)
        got = referenced_tables(sql)
        # CTE names shadowing table names may legitimately appear in
        # expect (the cte BODY read them) — the scanner must never
        # report relations outside the generated base set
        assert got == expect, f"iter {i}: {sql!r}\n got {got}\n want {expect}"
    assert deep_seen == 300


def test_run_sql_recursive_cte(spark, sf_dir):
    """Spark 4 recursive CTEs pass the whitelist, scope their
    self-reference (not a base table), and still require authorization
    for real tables read inside the recursive body."""
    register_views(spark, sf_dir)
    sql = (
        "WITH RECURSIVE seq AS ("
        " SELECT 1 AS n UNION ALL SELECT n + 1 FROM seq WHERE n < 5"
        ") SELECT * FROM seq"
    )
    assert referenced_tables(sql) == set()
    assert sorted(r.n for r in run_sql(spark, sql, allowed_tables=set()).collect()) == [
        1, 2, 3, 4, 5,
    ]
    walk = (
        "WITH RECURSIVE walk AS ("
        " SELECT r_regionkey AS k FROM region WHERE r_regionkey = 0"
        " UNION ALL SELECT k + 1 FROM walk WHERE k < 2"
        ") SELECT * FROM walk"
    )
    assert referenced_tables(walk) == {"region"}
    with pytest.raises(SqlValidationError, match="unauthorized"):
        run_sql(spark, walk, allowed_tables={"nation"})
    assert run_sql(spark, walk, allowed_tables={"region"}).count() == 3


class TestDmlRouter:
    """sql/dml.py: the explicitly-opt-in DELETE/UPDATE surface over
    delta tables (the read endpoint stays SELECT-only). Authorization
    is the caller-supplied table->path mapping, full stop."""

    @staticmethod
    def _table(spark, tmp_path):
        from lakeapi_spark.sources.delta import write_delta

        path = str(tmp_path / "dml_t")
        df = spark.range(20).selectExpr(
            "id AS k", "id * 2 AS v", "CAST(id % 2 AS STRING) AS p"
        )
        write_delta(df, path, partition_by=["p"])
        return path

    def test_delete_routes_to_dv_delete(self, spark, tmp_path):
        from lakeapi_spark.sources.delta import delta_history, read_delta_fallback
        from lakeapi_spark.sql.dml import run_dml

        path = self._table(spark, tmp_path)
        out = run_dml(
            spark, "DELETE FROM events WHERE k % 4 = 0", {"events": path}
        )
        assert out == {"operation": "DELETE", "table": "events", "version": 1}
        assert read_delta_fallback(spark, path).count() == 15
        assert delta_history(spark, path)[0]["operation"] == "DELETE"

    def test_update_with_string_containing_where(self, spark, tmp_path):
        """'where' inside a string literal must not split the clause."""
        from lakeapi_spark.sources.delta import read_delta_fallback
        from lakeapi_spark.sql.dml import run_dml

        path = str(tmp_path / "dml_s")
        from lakeapi_spark.sources.delta import write_delta

        write_delta(
            spark.range(4).selectExpr("id AS k", "'x' AS s"), path
        )
        run_dml(
            spark,
            "UPDATE t SET s = 'a where b', k = k + 10 WHERE k >= 2",
            {"t": path},
        )
        got = {r.k: r.s for r in read_delta_fallback(spark, path).collect()}
        assert got == {0: "x", 1: "x", 12: "a where b", 13: "a where b"}

    def test_update_without_where_hits_all_rows(self, spark, tmp_path):
        from lakeapi_spark.sources.delta import read_delta_fallback
        from lakeapi_spark.sql.dml import run_dml

        path = self._table(spark, tmp_path)
        run_dml(spark, "UPDATE t SET v = 0", {"t": path})
        assert all(
            r.v == 0 for r in read_delta_fallback(spark, path).collect()
        )

    def test_guards(self, spark, tmp_path):
        from lakeapi_spark.sql.dml import run_dml
        from lakeapi_spark.sql.endpoint import SqlValidationError

        path = self._table(spark, tmp_path)
        with pytest.raises(SqlValidationError, match="unauthorized table"):
            run_dml(spark, "DELETE FROM other WHERE true", {"t": path})
        with pytest.raises(SqlValidationError, match="explicit WHERE"):
            run_dml(spark, "DELETE FROM t", {"t": path})
        with pytest.raises(SqlValidationError, match="not a valid SQL statement"):
            run_dml(
                spark, "DELETE FROM t WHERE true; DROP TABLE t", {"t": path}
            )
        # a backslash-escaped quote must not hide the ';' inside a "string"
        with pytest.raises(SqlValidationError, match="not a valid SQL statement"):
            run_dml(
                spark, r"DELETE FROM t WHERE p = 'a\'' ; DROP TABLE t --'", {"t": path}
            )
        with pytest.raises(SqlValidationError, match="only DELETE"):
            run_dml(spark, "INSERT INTO t VALUES (1)", {"t": path})
        with pytest.raises(SqlValidationError, match="not a valid SQL statement"):
            run_dml(spark, "UPDATE t SET 5 WHERE true", {"t": path})


def test_dml_parser_fuzz_roundtrip(spark):
    """Parse-level fuzz (no Spark job): UPDATE statements built from known
    assignment/predicate pieces — string literals stuffed with 'where',
    commas, semicolon-free parens — parse to exactly those pieces: the SET
    columns in order, and each value and the predicate equal to Catalyst's
    ``parseExpression`` of its own text. Mirrors the read endpoint's fuzz
    convention: the statement reader is the security-relevant part, so it
    gets generative coverage, not just examples."""
    import random

    from lakeapi_spark.sql.dml import parse_dml

    parser = spark._jsparkSession.sessionState().sqlParser()
    rnd = random.Random(99)
    exprs = [
        "k + 1",
        "'a where b'",
        "concat(s, ', where, ')",
        "CASE WHEN k > 2 THEN 'x,y' ELSE s END",
        "f(a, b, 'c,d')",
        "'it''s, where'",
        "(k + 2) * 3",
    ]
    preds = ["k > 2", "s = 'where'", "k IN (1, 2, 3)", "(k % 2) = 0"]
    for _ in range(300):
        cols = rnd.sample(["a", "b", "c", "d"], rnd.randint(1, 4))
        chosen = [(c, rnd.choice(exprs)) for c in cols]
        set_part = ", ".join(f"{c} = {e}" for c, e in chosen)
        with_where = rnd.random() < 0.7
        pred = rnd.choice(preds)
        stmt = f"UPDATE t SET {set_part}" + (f" WHERE {pred}" if with_where else "")
        op, name, path, sets, cond = parse_dml(spark, stmt, {"t": "/unused"})
        assert (op, name, path) == ("UPDATE", "t", "/unused"), stmt
        assert [c for c, _ in sets] == cols, stmt
        for (_, value), (_, piece) in zip(sets, chosen):
            assert value.equals(parser.parseExpression(piece)), (stmt, piece)
        if with_where:
            assert cond.equals(parser.parseExpression(pred)), stmt
        else:
            assert cond is None, stmt


def test_dml_guards_read_the_parsed_tree(spark):
    """The checks that only a parsed statement can make, all before any
    Spark job: authorization comes first; a foldable-true DELETE condition
    is no explicit WHERE (so ``WHERE true`` is refused too); qualified or
    aliased targets, nested SET targets and subqueries are refused."""
    from lakeapi_spark.sql.dml import run_dml
    from lakeapi_spark.sql.endpoint import SqlValidationError

    tables = {"T": "/unused"}
    for stmt, match in [
        ("DELETE FROM other", "unauthorized table"),
        ("DELETE FROM t WHERE true", "explicit WHERE"),
        ("DELETE FROM t WHERE 1 = 1 AND true", "explicit WHERE"),
        ("DELETE FROM db.t WHERE k = 1", "unqualified table"),
        ("DELETE FROM t AS x WHERE x.k = 1", "unqualified table"),
        ("UPDATE t SET s.x = 1", "SET target"),
        ("DELETE FROM t WHERE k IN (SELECT k FROM secret)", "subqueries"),
        ("UPDATE t SET v = (SELECT max(v) FROM secret) WHERE k = 1", "subqueries"),
        ("UPDATE t SET v = 1 WHERE EXISTS (SELECT 1 FROM secret)", "subqueries"),
    ]:
        with pytest.raises(SqlValidationError, match=match):
            run_dml(spark, stmt, tables)


def test_dml_backslash_escaped_quote(spark, tmp_path):
    """Spark literals honor backslash-escaped quotes; the scanner must
    not close the string early and swallow the WHERE clause (review
    finding: that silently turned a targeted UPDATE into full-table)."""
    from lakeapi_spark.sources.delta import read_delta_fallback, write_delta
    from lakeapi_spark.sql.dml import run_dml

    path = str(tmp_path / "esc")
    write_delta(spark.range(4).selectExpr("id AS k", "'x' AS s"), path)
    run_dml(spark, r"UPDATE t SET s = 'don\'t' WHERE k = 1", {"t": path})
    got = {r.k: r.s for r in read_delta_fallback(spark, path).collect()}
    assert got == {0: "x", 1: "don't", 2: "x", 3: "x"}


def test_explain_sql_gated_and_returns_plan(spark, sf_dir):
    from lakeapi_spark.sql.endpoint import SqlValidationError, explain_sql

    register_views(spark, sf_dir)
    plan = explain_sql(
        spark,
        "SELECT l_returnflag, COUNT(*) FROM lineitem "
        "WHERE l_quantity < 10 GROUP BY 1",
        allowed_tables={"lineitem"},
    )
    # the plan is returned, not executed — and shows real pushdown
    assert "PushedFilters" in plan and "l_quantity" in plan

    with pytest.raises(SqlValidationError):
        explain_sql(spark, "DROP TABLE lineitem", allowed_tables={"lineitem"})
    with pytest.raises(SqlValidationError):
        explain_sql(spark, "SELECT * FROM orders", allowed_tables={"lineitem"})
    with pytest.raises(SqlValidationError):
        explain_sql(spark, "SELECT 1", mode="sideways")
