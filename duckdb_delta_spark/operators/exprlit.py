"""Literal array builders that cost ONE py4j round-trip.

``F.array(*[F.lit(x) for x in vals])`` issues 2+ py4j socket round-trips
per element; a 16x16-codeword PQ codebook built that way costs ~2,000
round-trips ≈ 1.7 s of pure driver-side socket chatter per query build
(measured with cProfile: `recv_into` under `pyspark...lit`). The guide's
§5 rule — the driver should do almost no work — applies to plan
CONSTRUCTION too. These helpers render the same literal as one SQL
expression string and hand it to Catalyst in a single ``F.expr`` call;
the parsed result is the same ``CreateArray(Literal...)`` tree, so plans
and results are bit-identical.

Exactness: ``repr(float)`` is the shortest decimal that round-trips to
the same IEEE-754 double, and Spark's parser reads ``...D`` literals with
``Double.parseDouble`` — bit-identical to ``F.lit(x)``. Strings escape
quotes by doubling; a backslash has no rendering exact under both parser
modes, so :func:`sql_string` refuses it. :func:`sql_literal` and
:func:`sql_ident` extend the same one-round-trip rendering to scalar
literals and column references (the scan's pushed predicates), returning
None where only the Column API is exact.
"""

from __future__ import annotations

import datetime
import math
import re

from pyspark.sql import Column, functions as F


def sql_double(x: float) -> str:
    """Exact SQL double literal for ``x`` (handles nan/inf)."""
    x = float(x)
    if math.isnan(x) or math.isinf(x):
        return f"CAST('{x}' AS DOUBLE)"
    return repr(x) + "D"


def sql_string(s: str) -> str:
    """SQL string literal. Quotes are escaped by doubling (``''``), which
    both of Spark's parser modes accept. Backslashes are NOT rendered:
    the default ``spark.sql.parser.escapedStringLiterals=false`` mode
    reads them as escapes and the legacy mode literally, so no one
    rendering is exact in both — a string containing one raises
    ``ValueError`` (callers fall back to ``F.lit``)."""
    if "\\" in s:
        raise ValueError(
            "sql_string cannot render backslashes exactly under both "
            "parser modes; use F.lit for strings containing backslashes"
        )
    return "'" + s.replace("'", "''") + "'"


_IDENT_RE = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


def sql_ident(name: str) -> str | None:
    """Backquoted SQL reference equal to ``F.col(name)`` — dotted names
    are struct paths there, so each part is quoted on its own — or None
    when a part is not a plain identifier (callers fall back to
    ``F.col``)."""
    parts = name.split(".")
    if not all(_IDENT_RE.fullmatch(p) for p in parts):
        return None
    return ".".join(f"`{p}`" for p in parts)


def sql_literal(v) -> str | None:
    """SQL literal parsing to the same typed ``Literal`` as ``F.lit(v)``,
    or None when no rendering is exact: ints keep INT vs BIGINT by
    range, doubles use :func:`sql_double`, dates render from 1900 on
    (older ones cross calendar rebasing). Timestamps (session vs
    process time zone), decimals and everything else return None."""
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, int):
        # F.lit types an int INT when it fits 32 bits, else BIGINT; each
        # range's minimum is left out — it parses as -(max + 1), which
        # is one type wider than its F.lit
        if -(2**31) < v < 2**31:
            return str(v)
        if -(2**63) < v < 2**63 and v != -(2**31):
            return f"{v}L"
        return None
    if isinstance(v, float):
        return sql_double(v)
    if isinstance(v, str):
        return None if "\\" in v else sql_string(v)
    if type(v) is datetime.date and v.year >= 1900:
        return f"DATE '{v.isoformat()}'"
    return None


def lit_doubles(vals) -> Column:
    """``array<double>`` literal in one round-trip."""
    return F.expr("array(" + ",".join(sql_double(v) for v in vals) + ")")


def lit_double_matrix(rows) -> Column:
    """``array<array<double>>`` literal in one round-trip."""
    body = ",".join(
        "array(" + ",".join(sql_double(v) for v in row) + ")" for row in rows
    )
    return F.expr(f"array({body})")


def lit_strings(vals) -> Column:
    """``array<string>`` literal in one round-trip — or, when any value
    holds a backslash (no exact SQL rendering, see :func:`sql_string`),
    the same array built with ``F.lit`` per element."""
    vals = list(vals)
    if any("\\" in v for v in vals):
        return F.array(*[F.lit(v) for v in vals])
    return F.expr("array(" + ",".join(sql_string(v) for v in vals) + ")")
