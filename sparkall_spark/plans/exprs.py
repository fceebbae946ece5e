"""SPARQL expression fragment for BIND (extension — the reference's
query fragment has no BIND; its TRANSFORM DSL covers only join-column
rewrites, QueryAnalyser.scala:166-185).

Grammar (recursive descent, precedence climbing):

    expr   := sum (CMP sum)?          CMP in = != < <= > >=
    sum    := term (('+' | '-') term)*
    term   := factor (('*' | '/') factor)*
    factor := '!' factor | '(' expr ')'
            | FN '(' expr (',' expr)* ')' | ?var | literal

Functions: CONCAT, ROUND, ABS, UCASE, LCASE, STRLEN, COALESCE, IF,
FLOOR, CEIL, TRIM, SUBSTR, REPLACE, CONTAINS, STRSTARTS, STRENDS,
BOUND — each chosen because the Spark SQL rendering and the ANSI-SQL
rendering (DuckDB oracle / federated target) are semantically
identical builtins on both engines (STRSTARTS/STRENDS render as
substring-equality so the SQL is portable).  ``BOUND(?v)`` maps to an
IS NOT NULL probe — in the mapped-relational model an optional
variable is bound iff its left-join column is non-null, which also
treats a source NULL as unbound (documented approximation).

:func:`to_sql` renders an expression as an ANSI SQL string for the
SQL lowering (plans/sqlgen.py); Catalyst compiles it JVM-side with
whole-stage codegen, so BIND never introduces a UDF.
"""

from __future__ import annotations

import re
from dataclasses import dataclass



class ExprParseError(ValueError):
    pass


@dataclass(frozen=True)
class EVar:
    name: str


@dataclass(frozen=True)
class ELit:
    value: int | float | str


@dataclass(frozen=True)
class EBin:
    op: str  # + - * /
    left: object
    right: object


@dataclass(frozen=True)
class EFun:
    fn: str  # normalized lower-case SPARQL name
    args: tuple


@dataclass(frozen=True)
class ENot:
    arg: object


# SPARQL fn -> (pyspark builder, sql renderer); arity checked at parse
_FUNCTIONS = {
    "concat": "concat",
    "round": "round",
    "abs": "abs",
    "ucase": "upper",
    "lcase": "lower",
    "strlen": "length",
    "coalesce": "coalesce",
    "floor": "floor",
    "ceil": "ceil",
    "trim": "trim",
    # SPARQL 1.1 datetime accessors — identical builtins on Spark SQL
    # and DuckDB over date/timestamp values
    "year": "year",
    "month": "month",
    "day": "day",
    "hours": "hour",
    "minutes": "minute",
    "seconds": "second",
    "replace": "replace",
    "contains": "contains",
    # special-cased in to_sql:
    "if": None,        # CASE WHEN
    "substr": None,    # int-literal pos/len
    "strstarts": None, # substring-equality rendering
    "strends": None,
    "bound": None,     # IS NOT NULL on a variable
    "strbefore": None, # position() + substring rendering
    "strafter": None,
    # SPARQL 1.1 §17.4.2.5 STR and §17.4.4 hash functions: arguments
    # are stringified first so both engines hash the lexical form
    "str": None,
    "md5": None,
    "sha256": None,
}
# EFun("in", (needle, *haystack)) is built by the infix IN parse only —
# deliberately NOT in _FUNCTIONS, so call-syntax `in(..)` stays rejected.

# functions whose result is boolean — legal as a FILTER's top node
BOOLEAN_FNS = frozenset({"bound", "contains", "strstarts", "strends", "in"})

_CMP_OPS = ("=", "!=", "<", "<=", ">", ">=")

_TOKEN_RE = re.compile(
    r"""\s*(?:
        (?P<var>\?[A-Za-z_]\w*)
      | (?P<num>\d+(?:\.\d+)?)
      | (?P<str>"(?:[^"\\]|\\.)*")
      | (?P<name>[A-Za-z_]\w*)
      | (?P<cmp><=|>=|!=|=|<|>)
      | (?P<op>[()+\-*/,!])
    )""",
    re.VERBOSE,
)


def _tokenize(text: str) -> list[tuple[str, str]]:
    out, i = [], 0
    while i < len(text):
        m = _TOKEN_RE.match(text, i)
        if not m:
            if text[i:].strip() == "":
                break
            raise ExprParseError(f"bad expression at {text[i:]!r}")
        i = m.end()
        for kind in ("var", "num", "str", "name", "cmp", "op"):
            if m.group(kind) is not None:
                out.append((kind, m.group(kind)))
                break
    return out


class _Parser:
    def __init__(self, toks: list[tuple[str, str]]):
        self.toks = toks
        self.i = 0

    def peek(self) -> tuple[str, str] | None:
        return self.toks[self.i] if self.i < len(self.toks) else None

    def take(self) -> tuple[str, str]:
        t = self.peek()
        if t is None:
            raise ExprParseError("unexpected end of expression")
        self.i += 1
        return t

    def expect(self, val: str) -> None:
        t = self.take()
        if t[1] != val:
            raise ExprParseError(f"expected {val!r}, got {t[1]!r}")

    def expr(self):
        node = self.sum()
        # one optional comparison: comparisons don't chain (a < b < c
        # is out of fragment, as in SPARQL)
        if (t := self.peek()) and t[0] == "cmp":
            self.take()
            node = EBin(t[1], node, self.sum())
            return node
        # infix [NOT] IN (e1, e2, ...)  (SPARQL 1.1 §17.4.1.9)
        if (t := self.peek()) and t[0] == "name" and t[1].lower() in ("in", "not"):
            neg = t[1].lower() == "not"
            self.take()
            if neg:
                t2 = self.take()
                if t2[0] != "name" or t2[1].lower() != "in":
                    raise ExprParseError(f"expected IN after NOT, got {t2[1]!r}")
            self.expect("(")
            items = [self.expr()]
            while (t3 := self.peek()) and t3[1] == ",":
                self.take()
                items.append(self.expr())
            self.expect(")")
            node = EFun("in", (node, *items))
            return ENot(node) if neg else node
        return node

    def sum(self):
        node = self.term()
        while (t := self.peek()) and t[1] in ("+", "-"):
            self.take()
            node = EBin(t[1], node, self.term())
        return node

    def term(self):
        node = self.factor()
        while (t := self.peek()) and t[1] in ("*", "/"):
            self.take()
            node = EBin(t[1], node, self.factor())
        return node

    def factor(self):
        kind, val = self.take()
        if val == "!":
            return ENot(self.factor())
        if val == "(":
            node = self.expr()
            self.expect(")")
            return node
        if kind == "var":
            return EVar(val[1:])
        if kind == "num":
            return ELit(float(val) if "." in val else int(val))
        if kind == "str":
            return ELit(val[1:-1].replace('\\"', '"'))
        if kind == "name":
            fn = val.lower()
            if fn not in _FUNCTIONS:
                raise ExprParseError(f"unknown function {val!r} in BIND")
            self.expect("(")
            args = [self.expr()]
            while (t := self.peek()) and t[1] == ",":
                self.take()
                args.append(self.expr())
            self.expect(")")
            if fn == "if" and len(args) != 3:
                raise ExprParseError("IF takes exactly (cond, then, else)")
            if fn == "bound" and not (
                len(args) == 1 and isinstance(args[0], EVar)
            ):
                raise ExprParseError("BOUND takes exactly one variable")
            if fn in (
                "strstarts", "strends", "contains", "replace",
                "strbefore", "strafter",
            ) and len(args) != (3 if fn == "replace" else 2):
                raise ExprParseError(f"{fn.upper()} has wrong arity")
            if fn in ("str", "md5", "sha256") and len(args) != 1:
                raise ExprParseError(f"{fn.upper()} takes exactly one argument")
            if fn == "substr":
                if len(args) not in (2, 3):
                    raise ExprParseError("SUBSTR takes (str, pos[, len])")
                _substr_args(EFun(fn, tuple(args)))  # literal pos/len
            if fn == "round" and len(args) == 2 and not (
                isinstance(args[1], ELit) and isinstance(args[1].value, int)
            ):
                raise ExprParseError("ROUND scale must be an integer literal")
            return EFun(fn, tuple(args))
        raise ExprParseError(f"unexpected token {val!r}")


def parse_expr(text: str):
    p = _Parser(_tokenize(text))
    node = p.expr()
    if p.peek() is not None:
        raise ExprParseError(f"trailing input after expression: {p.peek()[1]!r}")
    return node


def expr_vars(node) -> set[str]:
    if isinstance(node, EVar):
        return {node.name}
    if isinstance(node, EBin):
        return expr_vars(node.left) | expr_vars(node.right)
    if isinstance(node, ENot):
        return expr_vars(node.arg)
    if isinstance(node, EFun):
        out: set[str] = set()
        for a in node.args:
            out |= expr_vars(a)
        return out
    return set()


# functions that can produce a non-null result from null inputs — the
# set that makes post-join evaluation of OPTIONAL-internal BINDs unsound
NULL_ABSORBING_FNS = frozenset({"coalesce", "if", "bound"})


def absorbs_null(node) -> bool:
    """True when any subexpression can turn NULL inputs into a non-null
    value (COALESCE/IF/BOUND).  Everything else in the fragment —
    arithmetic, comparisons, string/hash functions, IN, NOT —
    null-propagates in Spark."""
    if isinstance(node, EFun):
        if node.fn in NULL_ABSORBING_FNS:
            return True
        return any(absorbs_null(a) for a in node.args)
    if isinstance(node, EBin):
        return absorbs_null(node.left) or absorbs_null(node.right)
    if isinstance(node, ENot):
        return absorbs_null(node.arg)
    return False


def is_boolean_expr(node) -> bool:
    """True when the node is usable as a FILTER's top-level predicate:
    a comparison, a negation, or a boolean-returning function."""
    if isinstance(node, EBin) and node.op in _CMP_OPS:
        return True
    if isinstance(node, ENot):
        return True
    return isinstance(node, EFun) and node.fn in BOOLEAN_FNS


def _substr_args(node) -> tuple[int, int | None]:
    """SUBSTR pos/len must be positive integer literals (SPARQL substr
    is 1-based like SQL)."""
    pos = node.args[1]
    if not (isinstance(pos, ELit) and isinstance(pos.value, int) and pos.value >= 1):
        raise ExprParseError("SUBSTR position must be an integer literal >= 1")
    if len(node.args) == 3:
        ln = node.args[2]
        if not (isinstance(ln, ELit) and isinstance(ln.value, int) and ln.value >= 0):
            raise ExprParseError("SUBSTR length must be an integer literal >= 0")
        return pos.value, ln.value
    return pos.value, None


def to_sql(node, resolve) -> str:
    """Render as ANSI SQL; ``resolve(var_name) -> str`` (a column ref)."""
    if isinstance(node, EVar):
        return resolve(node.name)
    if isinstance(node, ELit):
        if isinstance(node.value, str):
            # Spark SQL's default parser treats backslash as an escape
            # inside string literals, so double it first or a literal
            # containing a backslash would lose it.
            escaped = node.value.replace("\\", "\\\\").replace("'", "''")
            return "'" + escaped + "'"
        return str(node.value)
    if isinstance(node, EBin):
        op = "<>" if node.op == "!=" else node.op
        return (
            f"({to_sql(node.left, resolve)} {op} "
            f"{to_sql(node.right, resolve)})"
        )
    if isinstance(node, ENot):
        return f"(NOT {to_sql(node.arg, resolve)})"
    if isinstance(node, EFun):
        if node.fn == "if":
            c, t, e = (to_sql(a, resolve) for a in node.args)
            return f"(CASE WHEN {c} THEN {t} ELSE {e} END)"
        if node.fn == "bound":
            return f"({to_sql(node.args[0], resolve)} IS NOT NULL)"
        if node.fn == "strstarts":
            # substring-equality keeps the rendering portable (Spark
            # spells it startswith, DuckDB starts_with)
            s, p = (to_sql(a, resolve) for a in node.args)
            return f"(substring({s}, 1, length({p})) = {p})"
        if node.fn == "strends":
            s, p = (to_sql(a, resolve) for a in node.args)
            return f"(right({s}, length({p})) = {p})"
        if node.fn in ("strbefore", "strafter"):
            # position(sep IN s) parses identically on Spark SQL and
            # DuckDB; '' on no-hit matches SPARQL semantics
            s, p = (to_sql(a, resolve) for a in node.args)
            pos = f"position({p} IN {s})"
            hit = (
                f"substring({s}, 1, {pos} - 1)"
                if node.fn == "strbefore"
                else f"substring({s}, {pos} + length({p}))"
            )
            return f"(CASE WHEN {pos} > 0 THEN {hit} ELSE '' END)"
        if node.fn in ("str", "md5", "sha256"):
            s = f"CAST({to_sql(node.args[0], resolve)} AS STRING)"
            if node.fn == "md5":
                return f"md5({s})"
            if node.fn == "sha256":
                # Spark SQL spells SHA-256 as sha2(x, 256)
                return f"sha2({s}, 256)"
            return s
        if node.fn == "in":
            needle = to_sql(node.args[0], resolve)
            items = ", ".join(to_sql(a, resolve) for a in node.args[1:])
            return f"({needle} IN ({items}))"
        if node.fn == "substr":
            pos, ln = _substr_args(node)
            s = to_sql(node.args[0], resolve)
            return (
                f"substring({s}, {pos})"
                if ln is None
                else f"substring({s}, {pos}, {ln})"
            )
        args = ", ".join(to_sql(a, resolve) for a in node.args)
        return f"{_FUNCTIONS[node.fn]}({args})"
    raise ExprParseError(f"bad AST node {node!r}")
