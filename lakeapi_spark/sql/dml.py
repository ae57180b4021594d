"""Guarded SQL DML over delta tables: DELETE / UPDATE statements routed
to the log-native writers (sources/delta.py).

The READ endpoint (sql/endpoint.py) stays SELECT-only — reference
parity (its sql route 400s anything else). This module is the separate,
explicitly-opt-in write surface: a caller hands `run_dml` a statement
AND the table->delta-path mapping it is allowed to touch, and gets the
delta-native execution — DELETE via deletion vectors (kilobytes of
bitmap, no rewrites), UPDATE as a touched-files-only copy-on-write.
Nothing is shared with the read endpoint's registry, so a deployment
that never imports this module cannot mutate anything through SQL.

Parsing is a small structural scan over the comment-stripped
statement (``_STRING_OR_COMMENT`` finds literals and comments). String
literals stay verbatim because they are PART of the expressions; the
WHERE/SET expression text goes to Spark's own parser (``F.expr``)
inside delete_delta/update_delta. DELETE requires an explicit WHERE
(``WHERE true`` spells a full-table delete on purpose; an absent WHERE
is far more likely a mistake than an intent). That guard is why the
statement does not go through Catalyst's parser as the read endpoint
does: Spark parses ``DELETE FROM t`` to a literal-true condition, so an
absent WHERE no longer shows in the plan."""

from __future__ import annotations

import re

from pyspark.sql import SparkSession

from lakeapi_spark.sql.endpoint import SqlValidationError

_STRING_OR_COMMENT = re.compile(
    r"""
    '(?:[^'\\]|\\.|'')*'    # single-quoted string ('' and \' escapes)
  | "(?:[^"\\]|\\.|"")*"    # double-quoted string
  | `(?:[^`]|``)*`          # backtick identifier
  | --[^\n]*                # line comment
  | /\*.*?\*/               # block comment
    """,
    re.VERBOSE | re.DOTALL,
)

_IDENT = r"[A-Za-z_][A-Za-z0-9_]*"
_DELETE_HEAD = re.compile(
    rf"^\s*delete\s+from\s+({_IDENT})\s+where\s+", re.IGNORECASE
)
_UPDATE_HEAD = re.compile(rf"^\s*update\s+({_IDENT})\s+set\s+", re.IGNORECASE)
_ASSIGN_RE = re.compile(rf"^\s*({_IDENT})\s*=\s*(.+)$", re.DOTALL)


def _strip_comments(sql: str) -> str:
    """Blank out comments but keep string/identifier literals verbatim —
    they are part of the expressions this module forwards to Spark."""

    def repl(m: re.Match[str]) -> str:
        text = m.group(0)
        return text if text[0] in "'\"`" else " "

    return _STRING_OR_COMMENT.sub(repl, sql)


def _reject_multi_statement(sql: str) -> None:
    scrubbed = _STRING_OR_COMMENT.sub(" '' ", sql)
    if ";" in scrubbed.rstrip().rstrip(";"):
        raise SqlValidationError("one statement at a time (interior ';')")


def _walk(text: str):
    """Yield ``(i, ch, depth, in_quote)`` over ``text`` with paren depth
    tracked and quoted spans ('', \"\", ``, with doubled-char escapes,
    plus backslash escapes inside '/\" — Spark's SQL literals honor
    ``\\'``) marked — the shared scanner under comma splitting and
    top-level WHERE detection."""
    depth = 0
    i, n = 0, len(text)
    while i < n:
        ch = text[i]
        if ch in "'`\"":
            quote = ch
            yield i, ch, depth, True
            i += 1
            while i < n:
                yield i, text[i], depth, True
                if text[i] == "\\" and quote != "`" and i + 1 < n:
                    # backslash escape: the next char (incl. a quote)
                    # is literal — backticks have no backslash escapes
                    yield i + 1, text[i + 1], depth, True
                    i += 2
                    continue
                if text[i] == quote:
                    if i + 1 < n and text[i + 1] == quote:  # doubled escape
                        yield i + 1, text[i + 1], depth, True
                        i += 2
                        continue
                    i += 1
                    break
                i += 1
            continue
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        yield i, ch, depth, False
        i += 1


def _find_top_level_where(text: str) -> int | None:
    """Index of the first top-level WHERE keyword (outside quotes and
    parens, word-bounded), or None. A 'where' inside a string literal
    or subexpression never splits the statement."""
    lower = text.lower()
    for i, _ch, depth, in_quote in _walk(text):
        if in_quote or depth != 0:
            continue
        if lower.startswith("where", i):
            before_ok = i == 0 or not (lower[i - 1].isalnum() or lower[i - 1] == "_")
            after = i + 5
            after_ok = after >= len(lower) or not (
                lower[after].isalnum() or lower[after] == "_"
            )
            if before_ok and after_ok:
                return i
    return None


def _split_assignments(text: str) -> list[tuple[str, str]]:
    """Split ``a = expr, b = expr`` on top-level commas (quotes and
    parens respected)."""
    parts: list[str] = []
    start = 0
    for i, ch, depth, in_quote in _walk(text):
        if ch == "," and depth == 0 and not in_quote:
            parts.append(text[start:i])
            start = i + 1
    parts.append(text[start:])
    out = []
    for part in parts:
        m = _ASSIGN_RE.match(part)
        if not m:
            raise SqlValidationError(f"malformed SET assignment: {part.strip()!r}")
        out.append((m.group(1), m.group(2).strip()))
    return out


def run_dml(
    spark: SparkSession, sql: str, tables: dict[str, str]
) -> dict:
    """Execute one DELETE or UPDATE statement against a delta table.

    ``tables`` maps statement table names (case-insensitive) to delta
    paths — the explicit authorization boundary: a name outside the
    mapping raises, full stop. Returns ``{"operation", "table",
    "version"}`` with the committed delta version (unchanged when the
    statement matched nothing)."""
    from lakeapi_spark.sources.delta import delete_delta, update_delta

    _reject_multi_statement(sql)
    stmt = _strip_comments(sql).strip().rstrip(";").strip()
    lookup = {k.lower(): v for k, v in tables.items()}

    def _authorized(name: str) -> str:
        if name not in lookup:
            raise SqlValidationError(f"unknown or unauthorized table: {name}")
        return lookup[name]

    m = _DELETE_HEAD.match(stmt)
    if m:
        name = m.group(1).lower()
        predicate = stmt[m.end() :].strip()
        if not predicate:
            raise SqlValidationError("DELETE WHERE clause is empty")
        version = delete_delta(spark, _authorized(name), predicate)
        return {"operation": "DELETE", "table": name, "version": version}

    m = _UPDATE_HEAD.match(stmt)
    if m:
        name = m.group(1).lower()
        rest = stmt[m.end() :]
        where_at = _find_top_level_where(rest)
        if where_at is None:
            set_part, predicate = rest, "true"
        else:
            set_part = rest[:where_at]
            predicate = rest[where_at + 5 :].strip()
            if not predicate:
                raise SqlValidationError("UPDATE WHERE clause is empty")
        set_exprs = dict(_split_assignments(set_part))
        version = update_delta(spark, _authorized(name), set_exprs, predicate)
        return {"operation": "UPDATE", "table": name, "version": version}

    verb = stmt.strip().split(None, 1)[0].lower() if stmt.strip() else ""
    if verb == "delete":
        raise SqlValidationError(
            "DELETE requires an explicit WHERE (use WHERE true for a "
            "full-table delete)"
        )
    raise SqlValidationError(
        f"only DELETE FROM ... WHERE and UPDATE ... SET are supported "
        f"here, got {verb or 'empty statement'!r} (SELECTs go through "
        "sql.endpoint.run_sql)"
    )
