"""The closed transformation-function set of the reference, as Spark SQL.

Reference surface (SparkExecutor.scala:202-239, §2.8 of SURVEY.md):
``toInt``, ``scl(+N|-N|*N)``, ``skp(v)``, ``substit(a,b)``,
``replc(a,b)``, ``prefix(s)``, ``postfix(s)``.  Reference bugs fixed
here by design: ``substit`` is a CASE so non-matching rows keep their
value (reference nulls them, SparkExecutor.scala:219-225), and
``prefix``/``postfix`` argument parsing is not string-mangled
(reference strips the wrong literal, SparkExecutor.scala:233,239).

Each function rewrites a SQL expression string.  ``skp`` is a row
filter, not a column expression, so a step returns (expression,
optional filter); a chain collects every filter on the expression at
ITS position, so ``toInt.skp(4).scl(+1)`` drops raw value 4, not 3.
"""

from __future__ import annotations

import re


class TransformError(ValueError):
    pass


_FN_RE = re.compile(r"^(\w+)(?:\((.*)\))?$")


def transform_sql(expr: str, fn: str) -> tuple[str, str | None]:
    """Apply one DSL function to ``expr``; returns (new expression,
    optional row filter)."""
    m = _FN_RE.match(fn.strip())
    if not m:
        raise TransformError(f"bad transformation: {fn!r}")
    name, arg = m.group(1), (m.group(2) or "").strip()
    # TRY_CAST: reference semantics are null-on-failure (Spark 2.4
    # casts); Spark 4 ANSI mode would throw on malformed input otherwise
    if name == "toInt":
        return f"TRY_CAST({expr} AS INT)", None
    if name == "toLong":
        return f"TRY_CAST({expr} AS BIGINT)", None
    if name == "toDouble":
        return f"TRY_CAST({expr} AS DOUBLE)", None
    if name == "toStr":
        return f"CAST({expr} AS STRING)", None
    if name == "scl":
        # scl(+60) / scl(-60) / scl(*2) — also reference's scl(_+60) spelling
        sm = re.match(r"^_?\s*([+\-*/])\s*(-?\d+(?:\.\d+)?)$", arg)
        if not sm:
            raise TransformError(f"bad scl argument: {arg!r}")
        return f"({expr} {sm.group(1)} {sm.group(2)})", None
    if name == "skp":
        return expr, f"{expr} <> {_literal(arg)}"
    if name == "substit":
        a, b = _two_args(arg)
        return f"CASE WHEN {expr} = {a} THEN {b} ELSE {expr} END", None
    if name == "replc":
        a, b = _two_args(arg)
        return f"REPLACE(CAST({expr} AS STRING), {a}, {b})", None
    if name == "prefix":
        return f"CONCAT({_literal(arg, force_str=True)}, CAST({expr} AS STRING))", None
    if name == "postfix":
        return f"CONCAT(CAST({expr} AS STRING), {_literal(arg, force_str=True)})", None
    raise TransformError(f"unknown transformation {name!r}")


def transform_chain_sql(
    expr: str, fns: tuple[str, ...] | list[str]
) -> tuple[str, list[str]]:
    """Apply a dotted chain of DSL functions; collects row filters."""
    filters: list[str] = []
    for fn in fns:
        expr, flt = transform_sql(expr, fn)
        if flt is not None:
            filters.append(flt)
    return expr, filters


def _literal(raw: str, force_str: bool = False) -> str:
    """A DSL argument as a SQL literal: numbers stay bare, anything else
    (or everything, with ``force_str``) becomes a quoted string."""
    raw = raw.strip().strip('"')
    if not force_str:
        try:
            float(raw)
            return raw
        except ValueError:
            pass
    return "'" + raw.replace("\\", "\\\\").replace("'", "''") + "'"


def _two_args(arg: str) -> tuple[str, str]:
    parts = [p.strip() for p in arg.split(",")]
    if len(parts) != 2:
        raise TransformError(f"expected two arguments, got: {arg!r}")
    return _literal(parts[0]), _literal(parts[1])
