"""Spark SQL fragment spelling: every literal and identifier the engine
splices into parsed SQL (``selectExpr`` / ``F.expr`` / DDL) is built here.

Hot plan-construction paths build parsed SQL fragments instead of
Column-API chains — one py4j round trip per fragment instead of one per
operator (~0.3 ms each on a warm driver adds up to hundreds of ms per
plan build). A fragment must mean exactly what the Column it replaces
meant, so literals keep ``F.lit``'s typing and parse the same under
both ``spark.sql.parser.escapedStringLiterals`` modes.
"""

from __future__ import annotations

import math
import numbers
from decimal import Decimal


def sql_str(s: str) -> str:
    """SQL string literal expression for ``s``, independent of
    ``spark.sql.parser.escapedStringLiterals``.

    A backslash-escaped form is only correct under the DEFAULT parser
    mode; on a Hive-compat session (``escapedStringLiterals=true``)
    ``\\'`` no longer terminates safely. This form parses identically
    under BOTH modes, with no conf lookup (a per-literal conf read would
    re-pay the round trips the fragments exist to avoid):

    - plain strings (no quote, backslash, or control character — every
      hot-path literal): a bare single-quoted literal, which the two
      modes lex identically;
    - anything else: ``CAST(X'<utf8-hex>' AS STRING)``, a hex binary
      literal both modes parse byte-identically (legacy mode keeps
      ``\\'`` AND ``''`` escapes literal in the value, so no quoted
      spelling of a quote agrees across modes); constant folding
      collapses it to the same string literal in the optimized plan.

    It is an expression, not a string token: grammar slots that take
    only a token (``LOCATION``, ``TBLPROPERTIES`` values) bind the value
    as a parameter marker instead (``spark.sql(text, args=...)``).
    """
    if any(ch in "\\'" or ord(ch) < 0x20 for ch in s):
        return f"CAST(X'{s.encode('utf-8').hex()}' AS STRING)"
    return "'" + s + "'"


def sql_ident(name: str) -> str:
    """Backquoted SQL identifier for one name part (a dot inside ``name``
    stays part of the name)."""
    return "`" + name.replace("`", "``") + "`"


def sql_lit(v) -> str:
    """SQL literal for a Python value, typed exactly as ``F.lit(v)``:
    ``None`` -> NULL, bool -> BOOLEAN (bool is an int subclass), int ->
    INT/BIGINT by magnitude, float -> DOUBLE (a bare SQL decimal would
    parse as DECIMAL; non-finite values have no bare spelling —
    ``infD``/``nanD`` fail to parse — so they cast the Java spelling,
    which constant-folds to the same DOUBLE literal), str ->
    :func:`sql_str`. Other integers (numpy) render as integral literals,
    other real numbers (numpy floats, Decimal) as DOUBLE, and any other
    value as its ``str`` form."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, numbers.Integral):
        return str(int(v))
    if isinstance(v, str) or not isinstance(v, (numbers.Real, Decimal)):
        return sql_str(str(v))
    x = float(v)
    if math.isnan(x):
        return "CAST('NaN' AS DOUBLE)"
    if math.isinf(x):
        return f"CAST('{'-' if x < 0 else ''}Infinity' AS DOUBLE)"
    return repr(x) + "D"
