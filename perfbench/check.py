"""Output checks against DuckDB over the same files.

The repo's oracle contract (tests/conftest.py) is row count, column
names and an order-insensitive value comparison. Serving outputs arrive
as bytes, so they are decoded per format first, then every cell is put
in one canonical text form that both engines' values reach: numbers by
value to 9 significant digits (an integral double and an int compare
equal, as they do once a JSON round trip drops the type), timestamps as
naive UTC.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import math
import re
from decimal import Decimal

_TS = re.compile(r"^\d{4}-\d{2}-\d{2}([T ]\d{2}:\d{2}:\d{2}(\.\d+)?)?(Z|[+-]\d{2}:?\d{2})?$")


def cell(v) -> str:
    if v is None:
        return "<null>"
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, (int, float, Decimal)):
        f = float(v)
        return "<null>" if math.isnan(f) else f"{f:.9g}"
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return v.isoformat(" ")
    if isinstance(v, dt.date):
        return dt.datetime(v.year, v.month, v.day).isoformat(" ")
    if isinstance(v, str):
        if _TS.match(v):
            return cell(dt.datetime.fromisoformat(v))
        return v
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{cell(x)}" for k, x in sorted(v.items())) + "}"
    return str(v)


def canon(rows: list[dict]) -> tuple[tuple[str, ...], list[tuple[str, ...]]]:
    """(sorted column names, sorted canonical rows)."""
    names = tuple(sorted(rows[0])) if rows else ()
    return names, sorted(tuple(cell(r[n]) for n in names) for r in rows)


def digest(rows: list[tuple[str, ...]]) -> str:
    h = hashlib.sha256()
    for r in rows:
        h.update("\x1f".join(r).encode())
        h.update(b"\x1e")
    return h.hexdigest()


def decode(payload: bytes, fmt: str) -> list[dict]:
    """Bytes a serializer produced -> rows."""
    if fmt == "json":
        return json.loads(payload)
    if fmt == "ndjson":
        return [json.loads(line) for line in payload.splitlines() if line.strip()]
    raise ValueError(f"no decoder for {fmt!r}")


def duck_rows(con, sql: str) -> list[dict]:
    rel = con.sql(sql)
    names = [d[0] for d in rel.description]
    return [dict(zip(names, r)) for r in rel.fetchall()]


def same_rows(got: list[dict], want: list[dict]) -> str | None:
    """None when equal as multisets of rows; else why not."""
    gn, gr = canon(got)
    wn, wr = canon(want)
    if len(gr) != len(wr):
        return f"row count {len(gr)} != {len(wr)}"
    if gr and gn != wn:
        return f"columns {gn} != {wn}"
    if digest(gr) != digest(wr):
        bad = next(((a, b) for a, b in zip(gr, wr) if a != b), None)
        return f"value hash differs; first diff {bad}"
    return None


def same_ranked(got: list[dict], scored: list[dict], limit: int, score: str) -> str | None:
    """Check one page of a ranked search against every scored row: the
    page holds the top ``limit`` scores (as a multiset, so ties at the
    cut may pick any of the tied rows), and each returned row, score
    included, is one of the scored rows."""
    want_n = min(limit, len(scored))
    if len(got) != want_n:
        return f"row count {len(got)} != {want_n}"
    top = sorted((float(r[score]) for r in scored), reverse=True)[:want_n]
    mine = sorted((float(r[score]) for r in got), reverse=True)
    if [cell(x) for x in mine] != [cell(x) for x in top]:
        return f"scores {mine} != top {top}"
    _, pool = canon(scored)
    names, rows = canon(got)
    if got and names != canon(scored[:1])[0]:
        return f"columns {names}"
    pool_set = set(pool)
    missing = [r for r in rows if r not in pool_set]
    return f"rows not in the scored set: {missing[:2]}" if missing else None
