"""Quoting rules for plans written as Spark SQL text.

The columnar draft-4 path (``draft4/columnar.py``), the Check IR
compiler (``checks/compile.py``, ``checks/engine.py``) and the MinHash
bundles (``operators/dedup.py``) build their plans as SQL text and
apply each pass with one ``selectExpr`` or a few ``F.expr``. Every
literal and name they put into that text goes through this module:

- ``str_lit``: a string that could be read two ways (a quote, a
  backslash, a brace) becomes a hex binary literal cast to string, so
  ``spark.sql.parser.escapedStringLiterals`` and ``${var}`` substitution
  cannot change what it means. The optimizer folds the cast back to
  the same string literal.
- ``num_lit``: an exact decimal literal, for schema bounds and enum
  members compared as decimals.
- ``lit``: a Python scalar as the literal ``F.lit`` would make of it
  (same type, same value).
- ``ident``: one backtick-quoted identifier.
- ``col_ref``: a column name read as ``F.col`` reads it (dots split
  nested fields, backticks quote a part); ``col_parts`` gives the parts.
- ``struct``: a struct of named fields, as ``F.struct`` builds it.
- ``concat_conditional``: an array of the structs whose condition
  holds, the one way failure arrays are built.
"""

from __future__ import annotations

import math
import re
from decimal import Decimal
from typing import Any

_PLAIN = re.compile(r"[A-Za-z0-9_ $./()-]*")
_LONG_MIN, _LONG_MAX = -(2**63), 2**63 - 1


def str_lit(s: str) -> str:
    """``s`` as a SQL string literal that means ``s`` whatever
    ``spark.sql.parser.escapedStringLiterals`` is set to and that
    ``${var}`` substitution leaves alone: quoted as it is when it holds
    no quote, backslash or brace, else its UTF-8 bytes as a hex binary
    literal cast to string (constant-folded to the same string literal)."""
    if _PLAIN.fullmatch(s):
        return f"'{s}'"
    return f"CAST(X'{s.encode().hex()}' AS STRING)"


def num_lit(v: Any) -> str:
    """A decimal bound or enum member as a decimal literal: the same
    value ``Decimal`` gives it, so the comparison stays exact."""
    d = Decimal(repr(float(v))) if isinstance(v, float) else Decimal(v)
    return f"({d:f}BD)"


def lit(v: Any) -> str:
    """``v`` as the literal ``F.lit(v)`` builds: NULL, boolean, int or
    bigint by range, double, decimal, or string."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        # the parser types an integer literal int, else bigint, by range
        if not _LONG_MIN <= v <= _LONG_MAX:
            raise ValueError(f"integer literal out of the bigint range: {v}")
        return f"({v})" if v < 0 else str(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "CAST('NaN' AS DOUBLE)"
        if math.isinf(v):
            return f"CAST('{'-' if v < 0 else ''}Infinity' AS DOUBLE)"
        return f"({v!r}D)".upper()
    if isinstance(v, Decimal):
        return num_lit(v)
    if isinstance(v, str):
        return str_lit(v)
    raise ValueError(f"no SQL literal for {type(v).__name__} {v!r}")


def ident(name: str) -> str:
    """``name`` as one backtick-quoted identifier."""
    return "`" + name.replace("`", "``") + "`"


def col_parts(name: str) -> list[str]:
    """The name parts of ``name`` as ``F.col`` splits it: dots split
    nested fields, and a backtick-quoted part (with doubled backticks
    inside) may hold dots (Spark's
    ``UnresolvedAttribute.parseAttributeName``)."""
    parts, cur, i, quoted = [], [], 0, False
    while i < len(name):
        c = name[i]
        if quoted:
            if c == "`" and name[i + 1 : i + 2] == "`":
                cur.append(c)
                i += 1
            elif c == "`":
                quoted = False
                if name[i + 1 : i + 2] not in ("", "."):
                    raise ValueError(f"bad column name {name!r}")
            else:
                cur.append(c)
        elif c == "`":
            if cur:
                raise ValueError(f"bad column name {name!r}")
            quoted = True
        elif c == ".":
            if i == 0 or name[i - 1] == "." or i == len(name) - 1:
                raise ValueError(f"bad column name {name!r}")
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(c)
        i += 1
    if quoted:
        raise ValueError(f"bad column name {name!r}")
    parts.append("".join(cur))
    return parts


def col_ref(name: str) -> str:
    """``name`` read as ``F.col`` reads it (see ``col_parts``)."""
    return ".".join(ident(p) for p in col_parts(name))


def struct(*fields: tuple[str, str]) -> str:
    """``struct(value AS name, ...)`` over (name, SQL expression) pairs:
    the struct ``F.struct`` builds from aliased columns."""
    return "struct(" + ", ".join(f"{v} AS {ident(k)}" for k, v in fields) + ")"


def concat_conditional(pairs: list[tuple[str, str]], struct_type: str) -> str:
    """The array of the structs whose condition holds, over (condition,
    struct) pairs: concat(CASE WHEN cond THEN array(struct) ELSE array()
    END, ...). The rule for every failure array built as SQL text.

    It means array_compact(array(CASE WHEN cond THEN struct END, ...))
    but stays inside whole-stage codegen: array_compact lowers to the
    ArrayFilter higher-order function, which is CodegenFallback. ONE
    such expression knocked the Check IR's entire fused-pass
    Project/Filter out of codegen, running its hottest path
    interpreted (plans/r06: no codegen id on the row-pass operators)."""
    empty = f"CAST(array() AS array<{struct_type}>)"
    if not pairs:
        return empty
    arms = [f"CASE WHEN {cond} THEN array({s}) ELSE {empty} END" for cond, s in pairs]
    return f"concat({', '.join(arms)})"
