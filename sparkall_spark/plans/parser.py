"""Parser for the restricted SPARQL fragment.

Grammar (the reference's declared contract, evaluation/README.md:16-29,
re-implemented from scratch — the reference leans on Jena ARQ and
re-parses per getter, QueryAnalyser.scala:24-189; we parse once):

    PREFIX label: <iri> ...
    SELECT [DISTINCT] ?v ... | (FN([DISTINCT] ?v) AS ?alias) ...
    WHERE { triples ; shared-subject lists . OPTIONAL { ... }
            FILTER (?v op literal) | FILTER regex(?v, "pat") }
    [GROUP BY ?v ...] [ORDER BY [ASC|DESC](?v) ...] [LIMIT n]
    [TRANSFORM(?l?r.side.fn1.fn2(arg) && ...)]

Extensions over the reference: OPTIONAL blocks (-> left outer join),
multi-key ORDER BY done right (the reference's loop makes it
last-key-wins, Run.scala:294-299), FILTER rlike for true regexes,
DISTINCT aggregates, COUNT(*), UNION/MINUS/FILTER [NOT] EXISTS/VALUES,
HAVING, OFFSET, BIND computed columns (plans/exprs.py), expression
FILTERs and OR/var-to-var comparisons, aggregates over expressions,
SAMPLE and GROUP_CONCAT, property paths — sequence (`p1/p2`), inverse
(`^p`), alternation (`(a|b)`), and BOUNDED closure (`p+`/`p*` at depth
_PATH_DEFAULT_CAP, `p{m,n}` explicit) desugared to UNION branches at
parse time — and the ASK query form.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from sparkall_spark.plans.exprs import (
    _CMP_OPS,
    EBin,
    ExprParseError,
    absorbs_null,
    expr_vars,
    is_boolean_expr,
    parse_expr,
)
from sparkall_spark.plans.model import (
    Aggregation,
    Bind,
    ExprFilter,
    Filter,
    OrderKey,
    ParsedQuery,
    Star,
    TransformSpec,
    Triple,
)

RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"

_PREFIX_RE = re.compile(r"PREFIX\s+([\w-]*):\s*<([^>]+)>", re.IGNORECASE)
_VAR_RE = re.compile(r"\?([\w]+)")
_AGG_FN_RE = re.compile(
    r"\(\s*(SUM|MIN|MAX|AVG|COUNT|SAMPLE|GROUP_CONCAT)\s*\(", re.IGNORECASE
)
_FILTER_RE = re.compile(r"FILTER\s*(regex|rlike)?\s*\(", re.IGNORECASE)


class SparqlParseError(ValueError):
    pass


def _balanced(text: str, start: int, open_ch: str = "(", close_ch: str = ")") -> int:
    """Index just past the matching close bracket for the open at ``start``."""
    depth = 0
    in_str = False
    for i in range(start, len(text)):
        c = text[i]
        if c == '"':
            in_str = not in_str
        elif not in_str:
            if c == open_ch:
                depth += 1
            elif c == close_ch:
                depth -= 1
                if depth == 0:
                    return i + 1
    raise SparqlParseError(f"unbalanced {open_ch}{close_ch} starting at {start}")


def _strip_comments(query: str) -> str:
    out = []
    for line in query.splitlines():
        in_str = False
        for i, c in enumerate(line):
            if c == '"':
                in_str = not in_str
            elif c == "#" and not in_str:
                # keep IRIs like <http://...#x> intact: '#' inside <> is not a comment
                before = line[:i]
                if before.count("<") == before.count(">"):
                    line = before
                    break
        out.append(line)
    return "\n".join(out)


def _extract_transform(query: str) -> tuple[str, list[TransformSpec]]:
    """Cut the TRANSFORM(...) clause out (reference pre-lexes it too,
    Run.scala:33-37, because Jena cannot parse it)."""
    m = re.search(r"TRANSFORM\s*\(", query)
    if not m:
        return query, []
    end = _balanced(query, m.end() - 1)
    inner = query[m.end() : end - 1]
    query = query[: m.start()] + query[end:]
    specs: list[TransformSpec] = []
    for part in inner.split("&&"):
        part = part.strip()
        if not part:
            continue
        # ?left?right.side.fn1.fn2(arg)   (QueryAnalyser.scala:166-185)
        head, _, ops = part.partition(".")
        vars_ = head.lstrip("?").split("?")
        if len(vars_) != 2:
            raise SparqlParseError(f"bad TRANSFORM operand: {part!r}")
        side, _, fn_chain = ops.partition(".")
        if side not in ("l", "r"):
            raise SparqlParseError(f"bad TRANSFORM side in: {part!r}")
        fns: list[str] = []
        i = 0
        while i < len(fn_chain):
            j = i
            while j < len(fn_chain) and fn_chain[j] not in ".(":
                j += 1
            if j < len(fn_chain) and fn_chain[j] == "(":
                j = _balanced(fn_chain, j)
            fns.append(fn_chain[i:j])
            i = j + 1 if j < len(fn_chain) and fn_chain[j] == "." else j
        specs.append(
            TransformSpec(vars_[0], vars_[1], side, tuple(f for f in fns if f))
        )
    return query, specs


def _expand_iri(token: str, prefixes: dict[str, str]) -> str:
    token = token.strip()
    if token.startswith("<") and token.endswith(">"):
        return token[1:-1]
    if token == "a":
        return RDF_TYPE
    if ":" in token:
        label, _, local = token.partition(":")
        if label in prefixes:
            return prefixes[label] + local
    raise SparqlParseError(f"cannot expand IRI token: {token!r}")


# a "bare" comparison value: plain var, quoted string, or numeric
# literal — anything else routes to the expression-filter path
_BARE_VALUE_RE = re.compile(
    r'\?[\w]+$|"(?:[^"\\]|\\.)*"$|-?\d+(?:\.\d+)?(?:[eE]-?\d+)?$'
)


def _parse_filters(
    body: str, prefixes: dict[str, str]
) -> tuple[str, list[Filter], list[ExprFilter]]:
    filters: list[Filter] = []
    expr_filters: list[ExprFilter] = []
    while True:
        m = _FILTER_RE.search(body)
        if not m:
            break
        end = _balanced(body, m.end() - 1)
        inner = body[m.end() : end - 1].strip()
        kind = (m.group(1) or "").lower()
        if kind in ("regex", "rlike"):
            fm = re.match(
                r"\s*\?([\w]+)\s*,\s*\"((?:[^\"\\]|\\.)*)\""
                r"(?:\s*,\s*\"([a-z]*)\")?\s*$",
                inner,
            )
            if not fm:
                raise SparqlParseError(f"bad FILTER {kind}: {inner!r}")
            op, pattern = kind, fm.group(2)
            flags = fm.group(3) or ""
            if flags not in ("", "i"):
                raise SparqlParseError(
                    f"unsupported {kind.upper()} flags {flags!r} (only 'i')"
                )
            if flags == "i":
                # rlike: inline (?i) works on any modern regex engine;
                # regex (LIKE semantics): ILIKE, supported by both
                # Spark SQL and common ANSI engines
                if kind == "rlike":
                    pattern = "(?i)" + pattern
                else:
                    op = "ilike"
            filters.append(Filter(fm.group(1), op, pattern, True))
        elif "||" in inner:
            # OR filter (extension): supported as a same-variable
            # equality chain, desugared to one IN filter (the shape that
            # pushes down as a single scan predicate); mixing with && or
            # other ops/vars is out of fragment
            if "&&" in inner:
                raise SparqlParseError(
                    f"FILTER mixing && and || is not supported: {inner!r}"
                )
            or_var, vals, is_str_any = None, [], False
            for clause in re.split(r"\|\|", inner):
                fm = re.match(r"\s*\?([\w]+)\s*=\s*(.+?)\s*$", clause.strip())
                if not fm:
                    raise SparqlParseError(
                        f"|| filters support only ?v = literal clauses: {clause!r}"
                    )
                if or_var is None:
                    or_var = fm.group(1)
                elif or_var != fm.group(1):
                    raise SparqlParseError(
                        f"|| filter clauses must share one variable: {inner!r}"
                    )
                raw = fm.group(2).strip()
                if raw.startswith('"'):
                    vals.append(raw.strip('"'))
                    is_str_any = True
                else:
                    vals.append(
                        float(raw) if ("." in raw or "e" in raw.lower()) else int(raw)
                    )
            filters.append(Filter(or_var, "in", tuple(vals), is_str_any))
        else:
            for clause in re.split(r"&&", inner):
                clause = clause.strip()
                fm = re.match(
                    r"\s*\?([\w]+)\s*(!=|<=|>=|=|<|>)\s*(.+?)\s*$", clause
                )
                if fm and _BARE_VALUE_RE.match(fm.group(3).strip()):
                    raw = fm.group(3).strip()
                    if raw.startswith("?"):
                        # var-to-var comparison: applied post-join
                        filters.append(
                            Filter(fm.group(1), fm.group(2), raw[1:], False,
                                   value_is_var=True)
                        )
                        continue
                    if raw.startswith('"'):
                        value: str | int | float = raw.strip('"')
                        is_str = True
                    else:
                        # strip optional xsd-style type tags; parse number
                        num = raw.rstrip(".")
                        value = (
                            float(raw)
                            if ("." in raw or "e" in raw.lower())
                            else int(num)
                        )
                        is_str = False
                    filters.append(Filter(fm.group(1), fm.group(2), value, is_str))
                    continue
                # general expression filter (extension): the BIND
                # expression fragment with a comparison at top level
                try:
                    ast = parse_expr(clause)
                except ExprParseError as exc:
                    raise SparqlParseError(
                        f"bad FILTER clause: {clause!r} ({exc})"
                    ) from exc
                if not is_boolean_expr(ast):
                    raise SparqlParseError(
                        "expression FILTER must be a comparison, negation, "
                        f"or boolean function: {clause!r}"
                    )
                expr_filters.append(ExprFilter(ast, clause))
        body = body[: m.start()] + " " + body[end:]
    return body, filters, expr_filters


def _split_statements(body: str) -> list[str]:
    """Split triple statements on '.' that terminate a statement (not inside
    <>, quotes, or numbers)."""
    stmts: list[str] = []
    cur: list[str] = []
    in_iri = in_str = False
    for i, c in enumerate(body):
        if c == "<" and not in_str:
            in_iri = True
        elif c == ">" and not in_str:
            in_iri = False
        elif c == '"':
            in_str = not in_str
        if c == "." and not in_iri and not in_str:
            prev = body[i - 1] if i else " "
            nxt = body[i + 1] if i + 1 < len(body) else " "
            if prev.isdigit() and nxt.isdigit():
                cur.append(c)  # decimal point
                continue
            stmts.append("".join(cur))
            cur = []
        else:
            cur.append(c)
    if "".join(cur).strip():
        stmts.append("".join(cur))
    return [s.strip() for s in stmts if s.strip()]


import itertools

_PATH_VAR_COUNTER = itertools.count()


# --- property-path alternation and bounded closure (SPARQL 1.1 §9.1) ------
#
# `(a|b)`, `p+`, `p*` and the explicit-bounds extension `p{m,n}` expand
# TEXTUALLY into UNION branch bodies before union splitting, so every
# downstream stage (stars, planner, SQL lowering) sees plain
# BGPs and the existing sequence/inverse machinery.  `+`/`*` are
# BOUNDED: bare quantifiers expand to depth _PATH_DEFAULT_CAP (an
# engine-declared cap — unbounded closure over a mapped relational lake
# has no safe plan; use p{m,n} for an explicit horizon).  The zero-
# length alternative of `*`/`{0,n}` rewrites the (standalone) statement
# to BIND(?s AS ?o), the SPARQL zero-path "object is the node itself".

_PATH_DEFAULT_CAP = 4
_PATH_MAX_BRANCHES = 64
_PATH_QUANT_RE = re.compile(r"(.+?)(\+|\*|\?|\{(\d+)(?:,(\d+))?\})$")


def _path_split_top(tok: str, sep: str = "/") -> list[str]:
    """Split on ``sep`` at depth 0 (outside ``<...>`` IRIs and groups)."""
    parts: list[str] = []
    cur: list[str] = []
    depth = 0
    in_iri = False
    for c in tok:
        if c == "<":
            in_iri = True
        elif c == ">":
            in_iri = False
        elif not in_iri:
            if c == "(":
                depth += 1
            elif c == ")":
                depth -= 1
        if c == sep and depth == 0 and not in_iri:
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(c)
    parts.append("".join(cur))
    return parts


def _expand_path(tok: str) -> tuple[list[list[str]], bool]:
    """Expand a path token into alternatives; each alternative is a list
    of plain atoms (optionally ``^``-prefixed).  Returns (alternatives,
    had_special) where had_special marks alternation/quantifier use."""
    out: list[list[str]] = [[]]
    special = False
    for seg in _path_split_top(tok):
        seg = seg.strip()
        if not seg:
            raise SparqlParseError(f"empty property-path segment in {tok!r}")
        inv = seg.startswith("^")
        if inv:
            seg = seg[1:].strip()
        quant: tuple[int, int] | None = None
        qm = _PATH_QUANT_RE.fullmatch(seg)
        if qm:
            base = qm.group(1)
            # reject `<http://x*>`-style false positives: the suffix must
            # follow a complete atom/group (balanced <> and parens)
            if base.count("<") == base.count(">") and base.count(
                "("
            ) == base.count(")"):
                if qm.group(2) == "+":
                    quant = (1, _PATH_DEFAULT_CAP)
                elif qm.group(2) == "*":
                    quant = (0, _PATH_DEFAULT_CAP)
                elif qm.group(2) == "?":  # zero-or-one (SPARQL 1.1 §9.1)
                    quant = (0, 1)
                else:
                    lo = int(qm.group(3))
                    hi = int(qm.group(4)) if qm.group(4) is not None else lo
                    quant = (lo, hi)
                seg = base
                special = True
        if seg.startswith("("):
            if not seg.endswith(")"):
                raise SparqlParseError(f"unbalanced path group in {tok!r}")
            special = True
            seg_alts: list[list[str]] = []
            for alt in _path_split_top(seg[1:-1], "|"):
                sub, _ = _expand_path(alt.strip())
                seg_alts.extend(sub)
        else:
            seg_alts = [[seg]]
        if inv:
            # inverse of a sequence reverses it and inverts each atom
            seg_alts = [
                [(a[1:] if a.startswith("^") else "^" + a) for a in reversed(sq)]
                for sq in seg_alts
            ]
        if quant is not None:
            lo, hi = quant
            if lo > hi:
                raise SparqlParseError(f"bad path bounds {{{lo},{hi}}} in {tok!r}")
            reps: list[list[str]] = []
            for k in range(lo, hi + 1):
                if k == 0:
                    reps.append([])
                    continue
                combos: list[list[str]] = [[]]
                for _ in range(k):
                    combos = [c + s for c in combos for s in seg_alts]
                    if len(combos) > _PATH_MAX_BRANCHES:
                        raise SparqlParseError(
                            f"property path {tok!r} expands past "
                            f"{_PATH_MAX_BRANCHES} branches"
                        )
                reps.extend(combos)
            seg_alts = reps
        out = [o + s for o in out for s in seg_alts]
        if len(out) > _PATH_MAX_BRANCHES:
            raise SparqlParseError(
                f"property path {tok!r} expands past "
                f"{_PATH_MAX_BRANCHES} branches"
            )
    deduped: list[list[str]] = []
    seen: set[tuple[str, ...]] = set()
    for sq in out:
        if tuple(sq) not in seen:
            seen.add(tuple(sq))
            deduped.append(sq)
    return deduped, special


def _is_path_candidate(tok: str) -> bool:
    if "(" in tok or "|" in tok:
        return True
    return any(
        _PATH_QUANT_RE.fullmatch(s.strip().lstrip("^"))
        for s in _path_split_top(tok)
    )


_TOKEN_RE = re.compile(r"\S+")
_STRING_RE = re.compile(r'"(?:[^"\\]|\\.)*"')


def _mask_for_paths(body: str) -> str:
    """Blank out string literals, FILTER/BIND parenthesized spans, and
    `{...}` blocks so path-token scanning sees only top-level BGP
    triples.  Raises if a special path appears inside a block (hoisting
    OPTIONAL/MINUS/EXISTS content across UNION expansion is unsound)."""
    chars = list(body)

    def blank(a: int, b: int) -> None:
        for i in range(a, b):
            chars[i] = " "

    for m in _STRING_RE.finditer(body):
        blank(m.start(), m.end())
    masked = "".join(chars)
    for m in re.finditer(r"\b(?:FILTER|BIND|VALUES)\b", masked, re.IGNORECASE):
        p = masked.find("(", m.end())
        if p >= 0 and masked[m.end() : p].strip() in ("", "regex", "rlike"):
            blank(p, _balanced(masked, p))
    masked = "".join(chars)
    pos = 0
    while True:
        b0 = masked.find("{", pos)
        if b0 < 0:
            break
        # a {m,n} path quantifier is glued to its atom — not a block
        if b0 > 0 and not masked[b0 - 1].isspace() and re.match(
            r"\{\d+(?:,\d+)?\}", masked[b0:]
        ):
            pos = masked.index("}", b0) + 1
            continue
        b1 = _balanced(masked, b0, "{", "}")
        inner = masked[b0 + 1 : b1 - 1]
        if re.match(r"\s*SELECT\b", inner, re.IGNORECASE):
            # { SELECT ... } subquery: parsed recursively later, with
            # its own path expansion — don't token-scan its body here
            blank(b0, b1)
            masked = "".join(chars)
            continue
        for t in _TOKEN_RE.finditer(inner):
            core = t.group(0).rstrip(".;")
            if core and _is_path_candidate(core):
                try:
                    _, sp = _expand_path(core)
                except SparqlParseError:
                    continue  # not a path token (e.g. a VALUES tuple row)
                if sp:
                    raise SparqlParseError(
                        "property-path alternation/closure is only "
                        "supported in the top-level BGP (found inside a "
                        f"nested block: {core!r})"
                    )
        blank(b0, b1)
        masked = "".join(chars)
    return masked


def _zero_length_rewrite(body: str, start: int, end: int) -> str:
    """Rewrite the standalone statement ``?s <path> ?o`` whose path span
    is [start, end) into ``BIND(?s AS ?o)`` (zero-length path)."""
    sm = re.search(r"(\?[\w]+)\s*$", body[:start])
    om = re.match(r"\s*(\?[\w]+)", body[end:])
    if not sm or not om:
        raise SparqlParseError(
            "zero-length path (* or {0,n}) requires the standalone form "
            "'?s path ?o'"
        )
    before = body[: sm.start()].rstrip()
    if before and not before.endswith((".", "{")):
        raise SparqlParseError(
            "zero-length path (* or {0,n}) is not supported in a ';' "
            "continuation — write it as a standalone '?s path ?o .' "
            "statement"
        )
    subj, obj = sm.group(1), om.group(1)
    rest = body[end + om.end() :].lstrip()
    if rest.startswith(";"):
        raise SparqlParseError(
            "zero-length path statement must not share its subject via ';'"
        )
    if rest.startswith("."):
        rest = rest[1:]
    return f"{body[: sm.start()]} BIND({subj} AS {obj}) . {rest}"


def _expand_property_paths(body: str) -> list[str]:
    """Expand alternation/quantifier path tokens into alternative bodies
    (cartesian across tokens, capped at _PATH_MAX_BRANCHES)."""
    masked = _mask_for_paths(body)
    cands: list[tuple[int, int, list[str]]] = []
    for m in _TOKEN_RE.finditer(masked):
        tok = m.group(0)
        core = tok.rstrip(".;")
        if not core or not _is_path_candidate(core):
            continue
        seqs, special = _expand_path(core)
        if not special:
            continue
        cands.append((m.start(), m.start() + len(core), ["/".join(s) for s in seqs]))
    if not cands:
        return [body]
    total = 1
    for *_, alts in cands:
        total *= len(alts)
    if total > _PATH_MAX_BRANCHES:
        raise SparqlParseError(
            f"property paths expand to {total} UNION branches "
            f"(cap {_PATH_MAX_BRANCHES})"
        )
    bodies = [body]
    for start, end, alts in sorted(cands, reverse=True):
        bodies = [
            _zero_length_rewrite(b, start, end)
            if alt == ""
            else b[:start] + alt + b[end:]
            for b in bodies
            for alt in alts
        ]
    return bodies


def _split_path(pred_tok: str) -> list[tuple[bool, str]]:
    """Split a property-path token into (inverse, iri_token) segments:
    ``a/b`` -> sequence, ``^a`` -> inverse.  '/' inside <...> IRIs is
    not a separator."""
    segs: list[str] = []
    cur: list[str] = []
    in_iri = False
    for c in pred_tok:
        if c == "<":
            in_iri = True
        elif c == ">":
            in_iri = False
        if c == "/" and not in_iri:
            segs.append("".join(cur))
            cur = []
        else:
            cur.append(c)
    segs.append("".join(cur))
    out = []
    for s in segs:
        s = s.strip()
        if not s:
            raise SparqlParseError(f"empty property-path segment in {pred_tok!r}")
        inv = s.startswith("^")
        out.append((inv, s[1:] if inv else s))
    return out


_TRIPLE_TOK_RE = re.compile(r'"(?:[^"\\]|\\.)*"|\S+')


def _split_quote_aware(text: str, sep: str) -> list[str]:
    parts: list[str] = []
    cur: list[str] = []
    in_str = False
    for c in text:
        if c == '"':
            in_str = not in_str
        if c == sep and not in_str:
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(c)
    parts.append("".join(cur))
    return parts


def _parse_triples(
    body: str, prefixes: dict[str, str]
) -> tuple[list[Triple], list[Filter]]:
    """Parse triples; literal objects (``?s p "x"`` / ``?s p 42``)
    desugar into a fresh variable plus an equality filter, so the rest
    of the engine only ever sees variable objects."""
    triples: list[Triple] = []
    lit_filters: list[Filter] = []
    for stmt in _split_statements(body):
        # shared-subject form: ?s p1 ?o1 ; p2 ?o2 ; ...
        subj: str | None = None
        for seg in _split_quote_aware(stmt, ";"):
            seg = seg.strip()
            if not seg:
                continue
            toks = _TRIPLE_TOK_RE.findall(seg)
            if subj is None:
                if len(toks) != 3 or not toks[0].startswith("?"):
                    raise SparqlParseError(f"bad triple: {seg!r}")
                subj = toks[0][1:]
                pred_tok, obj_tok = toks[1], toks[2]
            else:
                if len(toks) != 2:
                    raise SparqlParseError(f"bad ';' continuation: {seg!r}")
                pred_tok, obj_tok = toks[0], toks[1]

            # property paths (extension): sequence a/b and inverse ^a
            # desugar into fresh-variable chains — BGP-only rewriting,
            # so every downstream stage (stars, planner, lowering)
            # sees ordinary triples
            if ("/" in pred_tok and not pred_tok.startswith("<")) or (
                "/" in pred_tok and pred_tok.count("<") > 1
            ) or pred_tok.startswith("^"):
                path = _split_path(pred_tok)
                if len(path) > 1 or path[0][0]:
                    if not obj_tok.startswith("?"):
                        raise SparqlParseError(
                            f"property-path object must be a variable: {seg!r}"
                        )
                    chain = (
                        [subj]
                        + [
                            f"__pp{next(_PATH_VAR_COUNTER)}"
                            for _ in range(len(path) - 1)
                        ]
                        + [obj_tok[1:]]
                    )
                    for i, (inv, tok) in enumerate(path):
                        iri = _expand_iri(tok, prefixes)
                        if iri == RDF_TYPE:
                            raise SparqlParseError(
                                "rdf:type not allowed inside a property path"
                            )
                        s_, o_ = chain[i], chain[i + 1]
                        if inv:
                            s_, o_ = o_, s_
                        triples.append(Triple(s_, iri, o_, True))
                    continue

            pred = _expand_iri(pred_tok, prefixes)
            if obj_tok.startswith("?"):
                triples.append(Triple(subj, pred, obj_tok[1:], True))
            elif obj_tok.startswith('"') or re.fullmatch(
                r"-?\d+(?:\.\d+)?", obj_tok
            ):
                # literal object -> fresh var + equality filter
                var = f"__lit{next(_PATH_VAR_COUNTER)}"
                if obj_tok.startswith('"'):
                    value: str | int | float = obj_tok[1:-1].replace('\\"', '"')
                    is_str = True
                else:
                    value = float(obj_tok) if "." in obj_tok else int(obj_tok)
                    is_str = False
                triples.append(Triple(subj, pred, var, True))
                lit_filters.append(Filter(var, "=", value, is_str))
            else:
                triples.append(Triple(subj, pred, _expand_iri(obj_tok, prefixes), False))
    return triples, lit_filters


def _parse_construct_template(
    body: str, prefixes: dict[str, str]
) -> list[tuple]:
    """Parse a CONSTRUCT template into (subject, predicate, object)
    term triples.  Each term is a tagged pair: ``("var", name)``,
    ``("iri", full_iri)`` or ``("lit", text)``.  Supports '.'-separated
    statements and ';' shared-subject continuations, like the BGP
    grammar — but terms here are emitted, not matched, so literals and
    IRIs are allowed in any position (predicate: var or IRI)."""

    def term(tok: str, *, is_pred: bool = False) -> tuple:
        if tok.startswith("?"):
            return ("var", tok[1:])
        if tok.startswith('"'):
            if is_pred:
                raise SparqlParseError(
                    f"CONSTRUCT predicate cannot be a literal: {tok!r}"
                )
            return ("lit", tok[1:-1].replace('\\"', '"'))
        if re.fullmatch(r"-?\d+(?:\.\d+)?", tok):
            if is_pred:
                raise SparqlParseError(
                    f"CONSTRUCT predicate cannot be a literal: {tok!r}"
                )
            return ("lit", tok)
        return ("iri", _expand_iri(tok, prefixes))

    out: list[tuple] = []
    for stmt in _split_statements(body):
        subj: tuple | None = None
        for seg in _split_quote_aware(stmt, ";"):
            seg = seg.strip()
            if not seg:
                continue
            toks = _TRIPLE_TOK_RE.findall(seg)
            if subj is None:
                if len(toks) != 3:
                    raise SparqlParseError(f"bad CONSTRUCT template triple: {seg!r}")
                subj = term(toks[0])
                pred_tok, obj_tok = toks[1], toks[2]
            else:
                if len(toks) != 2:
                    raise SparqlParseError(
                        f"bad CONSTRUCT ';' continuation: {seg!r}"
                    )
                pred_tok, obj_tok = toks[0], toks[1]
            out.append((subj, term(pred_tok, is_pred=True), term(obj_tok)))
    if not out:
        raise SparqlParseError("empty CONSTRUCT template")
    return out


_AGG_CALL_RE = re.compile(
    r"\b(SUM|MIN|MAX|AVG|COUNT|SAMPLE|GROUP_CONCAT)\s*\(", re.IGNORECASE
)


def _parse_expr_or_raise(text: str, what: str):
    try:
        return parse_expr(text)
    except ExprParseError as exc:
        raise SparqlParseError(f"bad {what}: {text!r} ({exc})") from exc


def _extract_aggregations(
    sel: str,
) -> tuple[str, list[Aggregation], list[Bind], list[Bind]]:
    """Scan the SELECT clause for ``( ... AS ?alias)`` items.

    Supported item shapes:
    - ``(FN([DISTINCT] operand [; SEPARATOR="..."]) AS ?alias)`` — an
      aggregate; the operand may be ``*``, a variable, or an expression
      (desugared into an implicit pre-agg BIND ``__aggexprN``);
    - ``(<expr over aggregates> AS ?alias)`` — e.g. ``ROUND(SUM(?x),
      2)`` or ``SUM(?a) / COUNT(*)``: each aggregate call becomes an
      internal ``__aggN`` aggregation and the expression computes the
      alias post-groupBy (returned as post_agg binds);
    - ``(<plain expr> AS ?alias)`` — a SPARQL 1.1 SELECT expression,
      desugared into a body-level BIND plus a projected variable.

    Returns (sel text with item spans reduced, aggregations, pre-agg
    binds, post-agg binds)."""
    aggs: list[Aggregation] = []
    agg_binds: list[Bind] = []
    post_exprs: list[Bind] = []
    out: list[str] = []
    i = 0
    n_expr = 0
    n_agg = 0
    n = len(sel)
    while i < n:
        c = sel[i]
        if c != "(":
            out.append(c)
            i += 1
            continue
        end = _balanced(sel, i)
        item = sel[i + 1 : end - 1]
        am = re.search(r"\s+AS\s+\?([\w]+)\s*$", item, re.IGNORECASE)
        if not am:
            if _AGG_CALL_RE.search(item):
                raise SparqlParseError(
                    f"aggregate missing AS ?alias near: {sel[i:end]!r}"
                )
            out.append(sel[i:end])
            i = end
            continue
        alias = am.group(1)
        expr_text = item[: am.start()]
        # replace each aggregate call with an internal placeholder var
        replaced: list[str] = []
        calls: list[str] = []
        j = 0
        while True:
            m2 = _AGG_CALL_RE.search(expr_text, j)
            if not m2:
                break
            o2 = m2.end() - 1
            e2 = _balanced(expr_text, o2)
            inner = expr_text[o2 + 1 : e2 - 1].strip()
            fn = m2.group(1).lower()
            separator = None
            sep_m = re.search(
                r";\s*SEPARATOR\s*=\s*\"([^\"]*)\"\s*$", inner, re.IGNORECASE
            )
            if sep_m:
                separator = sep_m.group(1)
                inner = inner[: sep_m.start()].strip()
            distinct = False
            dm = re.match(r"DISTINCT\s+", inner, re.IGNORECASE)
            if dm:
                distinct = True
                inner = inner[dm.end() :].strip()
            if inner == "*":
                var = "*"
            elif re.fullmatch(r"\?[\w]+", inner):
                var = inner[1:]
            else:
                ast_ = _parse_expr_or_raise(inner, "aggregate expression")
                var = f"__aggexpr{n_expr}"
                n_expr += 1
                agg_binds.append(Bind(var, ast_, inner))
            agg_alias = f"__agg{n_agg}"
            n_agg += 1
            calls.append(agg_alias)
            aggs.append(
                Aggregation(fn, var, agg_alias, distinct=distinct,
                            separator=separator)
            )
            replaced.append(expr_text[j : m2.start()])
            replaced.append(f" ?{agg_alias} ")
            j = e2
        replaced.append(expr_text[j:])
        rem = "".join(replaced).strip()
        if len(calls) == 1 and rem == f"?{calls[0]}":
            # plain aggregate item: the declared alias IS the aggregate
            a = aggs[-1]
            aggs[-1] = Aggregation(
                a.fn, a.var, alias, distinct=a.distinct, separator=a.separator
            )
        elif not calls:
            # SPARQL 1.1 SELECT expression: body-level bind + projection
            agg_binds.append(
                Bind(alias, _parse_expr_or_raise(rem, "SELECT expression"), rem)
            )
            out.append(f" ?{alias} ")
        else:
            post_exprs.append(
                Bind(
                    alias,
                    _parse_expr_or_raise(rem, "aggregate SELECT expression"),
                    expr_text.strip(),
                )
            )
        i = end
    return "".join(out), aggs, agg_binds, post_exprs


def parse_sparql(query: str) -> ParsedQuery:
    """Parse one query of the supported fragment into the IR."""
    query = _strip_comments(query)
    query, transforms = _extract_transform(query)

    prefixes = {m.group(1): m.group(2) for m in _PREFIX_RE.finditer(query)}

    sel_m = re.search(r"\bSELECT\b(.*?)\bWHERE\b", query, re.IGNORECASE | re.DOTALL)
    is_ask = False
    construct_template: list[tuple] = []
    describe_vars: list[str] = []
    con_m = re.search(r"\bCONSTRUCT\b", query, re.IGNORECASE)
    desc_m = re.search(r"\bDESCRIBE\b", query, re.IGNORECASE)
    if desc_m and (sel_m is None or desc_m.start() < sel_m.start()):
        # DESCRIBE ?x [?y ...] WHERE { ... }: describe every resource
        # the WHERE binds to the listed variables.  The closed mapping
        # model makes this well-defined: each variable must be a star
        # subject, whose entity's full predicate set is known.
        wm = re.search(r"\bWHERE\b", query[desc_m.end() :], re.IGNORECASE)
        if not wm:
            raise SparqlParseError(
                "DESCRIBE requires the variable form with a WHERE clause: "
                "DESCRIBE ?x WHERE { ... }"
            )
        head = query[desc_m.end() : desc_m.end() + wm.start()]
        describe_vars = [m.group(1) for m in _VAR_RE.finditer(head)]
        if not describe_vars or head.split() != [
            "?" + v for v in describe_vars
        ]:
            raise SparqlParseError(
                "DESCRIBE accepts only ?variables before WHERE"
            )
        sel = " ".join("?" + v for v in describe_vars)
        head_end = desc_m.end() + wm.end()
        distinct = False
    elif con_m and (sel_m is None or con_m.start() < sel_m.start()):
        # CONSTRUCT { template } WHERE { ... }: the template's variables
        # become the select list, so the whole WHERE pipeline (stars,
        # joins, filters, modifiers) is reused unchanged; the triple
        # materialization happens as a final stage of the lowering.
        tb = query.find("{", con_m.end())
        if tb < 0:
            raise SparqlParseError("no '{' after CONSTRUCT")
        tend = _balanced(query, tb, "{", "}")
        construct_template = _parse_construct_template(
            query[tb + 1 : tend - 1], prefixes
        )
        wm = re.search(r"\bWHERE\b", query[tend:], re.IGNORECASE)
        if not wm:
            raise SparqlParseError("CONSTRUCT needs a WHERE { ... } clause")
        tvars: list[str] = []
        for trip in construct_template:
            for kind, val in trip:
                if kind == "var" and val not in tvars:
                    tvars.append(val)
        if not tvars:
            raise SparqlParseError("CONSTRUCT template references no variables")
        sel = " ".join("?" + v for v in tvars)
        head_end = tend + wm.end()
        distinct = False
    else:
        if not sel_m:
            # ASK [WHERE] { ... } (extension): boolean existence query
            ask_m = re.search(r"\bASK\b(\s+WHERE\b)?", query, re.IGNORECASE)
            if not ask_m:
                raise SparqlParseError(
                    "no SELECT ... WHERE (or ASK/CONSTRUCT) found"
                )
            is_ask = True
            sel_m = ask_m
        sel = "" if is_ask else sel_m.group(1)
        head_end = sel_m.end()
        distinct = bool(re.match(r"\s*DISTINCT\b", sel, re.IGNORECASE))
        if distinct:
            sel = re.sub(r"\s*DISTINCT\b", "", sel, count=1, flags=re.IGNORECASE)

    sel_plain, aggregations, agg_binds, post_agg_exprs = _extract_aggregations(sel)
    select_vars = [m.group(1) for m in _VAR_RE.finditer(sel_plain)]

    brace = query.find("{", head_end - 1)
    if brace < 0:
        raise SparqlParseError("no '{' after WHERE")
    end = _balanced(query, brace, "{", "}")
    body = query[brace + 1 : end - 1]
    tail = query[end:]

    union_bodies = _split_union(body)
    # path alternation / bounded closure: each branch may fan out into
    # further UNION branches (plain BGPs thereafter)
    union_bodies = [
        nb for b in union_bodies for nb in _expand_property_paths(b)
    ]

    # GROUP BY keys: plain ?vars and/or (expr AS ?alias) items (SPARQL
    # 1.1 §10.1); an expression key desugars into a pre-agg BIND and the
    # group runs on the alias column
    group_by: list[str] = []
    group_binds: list[Bind] = []
    gm = re.search(r"GROUP\s+BY\s+", tail, re.IGNORECASE)
    if gm:
        pos = gm.end()
        while pos < len(tail):
            vm2 = re.match(r"\s*\?([\w]+)", tail[pos:])
            if vm2:
                group_by.append(vm2.group(1))
                pos += vm2.end()
                continue
            pm = re.match(r"\s*\(", tail[pos:])
            if not pm:
                break
            open_idx = pos + pm.end() - 1
            end_idx = _balanced(tail, open_idx)
            item = tail[open_idx + 1 : end_idx - 1]
            am2 = re.search(r"\s+AS\s+\?([\w]+)\s*$", item, re.IGNORECASE)
            if not am2:
                raise SparqlParseError(
                    f"GROUP BY expression needs AS ?alias: ({item.strip()})"
                )
            ast_g = _parse_expr_or_raise(item[: am2.start()], "GROUP BY expression")
            group_binds.append(Bind(am2.group(1), ast_g, item.strip()))
            group_by.append(am2.group(1))
            pos = end_idx

    order_keys: list[OrderKey] = []
    order_binds: list[Bind] = []
    om = re.search(r"ORDER\s+BY\s+", tail, re.IGNORECASE)
    if om:
        pos = om.end()
        n_oexpr = 0
        while pos < len(tail):
            mm = re.match(r"\s*(ASC|DESC)\s*\(", tail[pos:], re.IGNORECASE)
            if mm:
                open_idx = pos + mm.end() - 1
                end_idx = _balanced(tail, open_idx)
                inner = tail[open_idx + 1 : end_idx - 1].strip()
                desc = mm.group(1).upper() == "DESC"
                if re.fullmatch(r"\?[\w]+", inner):
                    order_keys.append(OrderKey(inner[1:], desc))
                else:
                    # ORDER BY expression (extension): implicit bind,
                    # sorted on the computed column
                    try:
                        ast_ = parse_expr(inner)
                    except ExprParseError as exc:
                        raise SparqlParseError(
                            f"bad ORDER BY expression: {inner!r} ({exc})"
                        ) from exc
                    alias = f"__orderexpr{n_oexpr}"
                    n_oexpr += 1
                    order_binds.append(Bind(alias, ast_, inner))
                    order_keys.append(OrderKey(alias, desc))
                pos = end_idx
                continue
            mv = re.match(r"\s*\?([\w]+)", tail[pos:])
            if mv:
                order_keys.append(OrderKey(mv.group(1), False))
                pos += mv.end()
                continue
            break

    limit = None
    lm = re.search(r"LIMIT\s+(\d+)", tail, re.IGNORECASE)
    if lm:
        limit = int(lm.group(1))
    offset = None
    om2 = re.search(r"OFFSET\s+(\d+)", tail, re.IGNORECASE)
    if om2:
        offset = int(om2.group(1))

    # SPARQL 1.1 SELECT expressions under GROUP BY/aggregation: a plain
    # (expr AS ?alias) desugars to a pre-agg bind, but the aggregate
    # output projection keeps only group keys + aggregate/post-agg
    # aliases, so the alias would silently vanish.  Route expressions
    # over group keys through post_agg_exprs (group-key columns survive
    # aggregation under their plain names); anything
    # referencing a non-grouped variable is an error, not a silent drop.
    if aggregations or group_by:
        gset = set(group_by)
        kept_binds: list[Bind] = []
        for b in agg_binds:
            if b.alias.startswith("__aggexpr") or b.alias not in select_vars:
                kept_binds.append(b)
                continue
            refs = expr_vars(b.expr)
            if refs <= gset:
                # post-agg aliases are not planner-visible variables —
                # drop from select_vars (output keeps them via the
                # post_agg projection)
                post_agg_exprs.append(b)
                select_vars = [v for v in select_vars if v != b.alias]
            else:
                raise SparqlParseError(
                    f"SELECT expression ({b.raw} AS ?{b.alias}) references "
                    "non-grouped variable(s) "
                    f"{', '.join('?' + v for v in sorted(refs - gset))} "
                    "under GROUP BY/aggregation"
                )
        agg_binds = kept_binds

    having = _parse_having(
        tail, aggregations, {pe.alias for pe in post_agg_exprs}
    )

    if construct_template and (aggregations or group_by):
        raise SparqlParseError(
            "CONSTRUCT cannot be combined with aggregation/GROUP BY — "
            "wrap the aggregation in a { SELECT ... } subquery instead"
        )
    if describe_vars and (aggregations or group_by):
        raise SparqlParseError(
            "DESCRIBE cannot be combined with aggregation/GROUP BY"
        )

    def build(group_body: str) -> ParsedQuery:
        # { SELECT ... } sub-selects (SPARQL 1.1 §12) parse recursively
        # as full queries; they must sit at the group's top level
        subqueries: list[ParsedQuery] = []
        while True:
            sm = re.search(r"\{\s*SELECT\b", group_body, re.IGNORECASE)
            if not sm:
                break
            send = _balanced(
                group_body, group_body.index("{", sm.start()), "{", "}"
            )
            inner = group_body[group_body.index("{", sm.start()) + 1 : send - 1]
            header = "".join(
                f"PREFIX {label}: <{iri}>\n" for label, iri in prefixes.items()
            )
            subqueries.append(parse_sparql(header + inner))
            group_body = group_body[: sm.start()] + " " + group_body[send:]

        # MINUS / FILTER [NOT] EXISTS blocks parse as their own
        # sub-groups (pure extensions over the reference)
        minus_bodies: list[str] = []
        exists_bodies: list[str] = []
        while True:
            mm = re.search(
                r"(MINUS|FILTER\s+NOT\s+EXISTS|FILTER\s+EXISTS)\s*\{",
                group_body,
                re.IGNORECASE,
            )
            if not mm:
                break
            mend = _balanced(group_body, group_body.index("{", mm.start()), "{", "}")
            inner = group_body[mm.end() : mend - 1]
            kind = re.sub(r"\s+", " ", mm.group(1).upper())
            if kind == "FILTER EXISTS":
                exists_bodies.append(inner)
            else:  # MINUS and FILTER NOT EXISTS share the anti-join
                minus_bodies.append(inner)
            group_body = group_body[: mm.start()] + " " + group_body[mend:]

        # VALUES (?a ?b) { (lit lit) ... } -> inline solution table,
        # inner-joined on its variables; UNDEF rows carry None
        # wildcards (null-or-equal join condition)
        values_tables: list[tuple[list[str], list[tuple]]] = []
        while True:
            vm = re.search(
                r"VALUES\s*\(((?:\s*\?[\w]+)+)\s*\)\s*\{",
                group_body,
                re.IGNORECASE,
            )
            if not vm:
                break
            vend = _balanced(
                group_body, group_body.index("{", vm.start()), "{", "}"
            )
            vars_ = [m.group(1) for m in _VAR_RE.finditer(vm.group(1))]
            inner = group_body[vm.end() : vend - 1]
            rows: list[tuple] = []
            pos2 = 0
            while True:
                op = inner.find("(", pos2)
                if op < 0:
                    break
                cl = _balanced(inner, op)
                toks = re.findall(r'"(?:[^"\\]|\\.)*"|\S+', inner[op + 1 : cl - 1])
                if len(toks) != len(vars_):
                    raise SparqlParseError(
                        f"VALUES row has {len(toks)} values for "
                        f"{len(vars_)} variables: {inner[op:cl]!r}"
                    )
                row: list = []
                for tok in toks:
                    if tok.upper() == "UNDEF":
                        # SPARQL 1.1 §10.2.2: UNDEF leaves the variable
                        # unconstrained for this row -> None wildcard
                        row.append(None)
                        continue
                    if tok.startswith('"'):
                        row.append(tok.strip('"'))
                    else:
                        row.append(
                            float(tok)
                            if ("." in tok or "e" in tok.lower())
                            else int(tok)
                        )
                rows.append(tuple(row))
                pos2 = cl
            if not rows:
                raise SparqlParseError("empty VALUES table")
            values_tables.append((vars_, rows))
            group_body = group_body[: vm.start()] + " " + group_body[vend:]

        # VALUES ?var { lit lit ... } -> IN-list filter.  Placement
        # matters for OPTIONAL semantics (classified after the stars
        # are known): inside a block it constrains the block pre-join;
        # outside, on an optional var, SPARQL's compatibility rule
        # keeps UNBOUND rows (null-or-in, applied post-join).
        values_filters: list[tuple[Filter, bool]] = []
        while True:
            vm = re.search(r"VALUES\s+\?([\w]+)\s*\{", group_body, re.IGNORECASE)
            if not vm:
                break
            in_opt = any(
                om.start() < vm.start() < _balanced(
                    group_body, group_body.index("{", om.start()), "{", "}"
                )
                for om in re.finditer(
                    r"OPTIONAL\s*\{", group_body, re.IGNORECASE
                )
            )
            vend = _balanced(group_body, group_body.index("{", vm.start()), "{", "}")
            inner = group_body[vm.end() : vend - 1]
            vals: list = []
            is_str = False
            for tok in re.findall(r'"(?:[^"\\]|\\.)*"|\S+', inner):
                if tok.startswith('"'):
                    vals.append(tok.strip('"'))
                    is_str = True
                else:
                    vals.append(
                        float(tok) if ("." in tok or "e" in tok.lower()) else int(tok)
                    )
            values_filters.append(
                (Filter(vm.group(1), "in", tuple(vals), is_str), in_opt)
            )
            group_body = group_body[: vm.start()] + " " + group_body[vend:]

        # BIND(expr AS ?alias) -> post-join computed column (extension;
        # expression fragment: plans/exprs.py).  BINDs textually inside
        # an OPTIONAL block are remembered: post-join evaluation is only
        # sound for them when NULL propagation makes the alias unbound
        # exactly when the OPTIONAL did not match (validated below once
        # the stars are known).
        binds: list[Bind] = []
        optional_bind_aliases: set[str] = set()
        while True:
            bm = re.search(r"BIND\s*\(", group_body, re.IGNORECASE)
            if not bm:
                break
            in_optional = any(
                om.start() < bm.start() < _balanced(
                    group_body, group_body.index("{", om.start()), "{", "}"
                )
                for om in re.finditer(
                    r"OPTIONAL\s*\{", group_body, re.IGNORECASE
                )
            )
            bend = _balanced(group_body, group_body.index("(", bm.start()))
            inner = group_body[bm.end() : bend - 1]
            am = re.search(r"\s+AS\s+\?([\w]+)\s*$", inner, re.IGNORECASE)
            if not am:
                raise SparqlParseError(f"BIND without trailing AS ?alias: {inner!r}")
            try:
                ast = parse_expr(inner[: am.start()])
            except ExprParseError as exc:
                raise SparqlParseError(f"bad BIND expression: {exc}") from exc
            binds.append(Bind(am.group(1), ast, inner.strip()))
            if in_optional:
                optional_bind_aliases.add(am.group(1))
            group_body = group_body[: bm.start()] + " " + group_body[bend:]

        (
            stars,
            var_to_star_pred,
            filters,
            optional_subjects,
            expr_filters,
            optional_blocks,
        ) = _parse_group(group_body, prefixes)
        # classify VALUES by placement now that stars are known
        for vf, in_opt in values_filters:
            v_star = (
                vf.var
                if vf.var in stars
                else var_to_star_pred.get(vf.var, (None,))[0]
            )
            if v_star is None:
                raise SparqlParseError(
                    f"VALUES ?{vf.var} references an unbound variable"
                )
            if in_opt and v_star not in optional_subjects:
                raise SparqlParseError(
                    f"VALUES ?{vf.var} inside OPTIONAL binds to mandatory "
                    f"star ?{v_star}; hoisting it pre-join would break "
                    "left-join semantics — move it outside the block"
                )
            if not in_opt and v_star in optional_subjects:
                # SPARQL compatibility: an UNBOUND var matches any
                # VALUES row, so rows where the OPTIONAL failed survive
                filters = filters + [
                    Filter(vf.var, "in_null_ok", vf.value, vf.value_is_string)
                ]
            else:
                filters = filters + [vf]

        # OPTIONAL-internal BIND soundness: the alias must come out
        # unbound (NULL) exactly when the OPTIONAL did not match.  That
        # holds post-join iff the expression references at least one
        # optional-star variable and contains no NULL-absorbing function
        # (SPARQL left-join semantics; same rationale as the
        # expression-FILTER-in-OPTIONAL restrictions).
        if optional_bind_aliases:
            opt_vars = optional_subjects | {
                v
                for v, (s, _p) in var_to_star_pred.items()
                if s in optional_subjects
            }
            for b in binds:
                if b.alias not in optional_bind_aliases:
                    continue
                refs = expr_vars(b.expr)
                if not (refs & opt_vars) or absorbs_null(b.expr):
                    raise SparqlParseError(
                        f"BIND({b.raw} AS ?{b.alias}) inside OPTIONAL is "
                        "only supported when the expression references "
                        "the optional star's variables and propagates "
                        "NULL (no COALESCE/IF/BOUND, no constant-only "
                        "expressions) — otherwise the alias would be "
                        "bound even for rows where the OPTIONAL did not "
                        "match; move the BIND outside the OPTIONAL block"
                    )

        # implicit binds from aggregate / ORDER BY expressions run
        # after the body's explicit binds (they may reference those
        # aliases)
        if order_binds and (aggregations or distinct):
            raise SparqlParseError(
                "ORDER BY expressions are not supported together with "
                "DISTINCT or aggregation"
            )
        binds = binds + agg_binds + group_binds + order_binds

        # BIND scope check: every referenced variable must be bound by
        # the BGP, a subquery projection, or an earlier BIND; aliases
        # must be fresh
        bound = set(var_to_star_pred) | set(stars)
        for sq in subqueries:
            bound.update(sq.output_vars())
        for b in binds:
            if b.alias in bound:
                raise SparqlParseError(f"BIND rebinds ?{b.alias}")
            missing = expr_vars(b.expr) - bound
            if missing:
                raise SparqlParseError(
                    f"BIND({b.raw}) references unbound "
                    f"{', '.join('?' + v for v in sorted(missing))}"
                )
            bound.add(b.alias)

        # expression-FILTER scope check (same rule as BIND)
        for ef in expr_filters:
            missing = expr_vars(ef.expr) - bound
            if missing:
                raise SparqlParseError(
                    f"FILTER({ef.raw}) references unbound "
                    f"{', '.join('?' + v for v in sorted(missing))}"
                )

        def subgroup(body_text: str) -> ParsedQuery:
            ms, mv, mf, mo, mef, mob = _parse_group(body_text, prefixes)
            return ParsedQuery(
                prefixes=prefixes,
                select_vars=[],
                distinct=False,
                stars=ms,
                var_to_star_pred=mv,
                filters=mf,
                aggregations=[],
                group_by=[],
                order_keys=[],
                limit=None,
                optional_stars=mo,
                optional_blocks=mob,
                expr_filters=mef,
            )

        minus_groups = [subgroup(mb) for mb in minus_bodies]
        exists_groups = [subgroup(eb) for eb in exists_bodies]
        return ParsedQuery(
            prefixes=prefixes,
            select_vars=select_vars,
            distinct=distinct,
            stars=stars,
            var_to_star_pred=var_to_star_pred,
            filters=filters,
            aggregations=aggregations,
            group_by=group_by,
            order_keys=order_keys,
            limit=limit,
            transforms=transforms,
            optional_stars=optional_subjects,
            optional_blocks=optional_blocks,
            having=having,
            minus_groups=minus_groups,
            exists_groups=exists_groups,
            offset=offset,
            binds=binds,
            is_ask=is_ask,
            construct_template=construct_template,
            describe_vars=describe_vars,
            expr_filters=expr_filters,
            post_agg_exprs=post_agg_exprs,
            subqueries=subqueries,
            values_tables=values_tables,
        )

    main = build(union_bodies[0])
    main.union_branches = [build(b) for b in union_bodies[1:]]
    if main.union_branches:
        main.partial_binding = True
        for b in main.union_branches:
            b.partial_binding = True
    if describe_vars:
        if main.union_branches:
            raise SparqlParseError("DESCRIBE over UNION is not supported")
        for v in describe_vars:
            if v not in main.stars:
                raise SparqlParseError(
                    f"DESCRIBE variable ?{v} must be a star subject in "
                    "the WHERE pattern (its entity determines the "
                    "described predicate set)"
                )
    return main


def _parse_having(
    tail: str, aggregations: list[Aggregation], extra_aliases: set[str] = frozenset()
) -> list[Filter]:
    """``HAVING (SUM(?v) > 10)`` or ``HAVING (?alias > 10)`` — resolved
    to the matching aggregate alias (must be declared in SELECT);
    ``extra_aliases`` admits post-aggregation expression aliases."""
    having: list[Filter] = []
    for hm in re.finditer(r"HAVING\s*\(", tail, re.IGNORECASE):
        end = _balanced(tail, hm.end() - 1)
        inner = tail[hm.end() : end - 1].strip()
        for clause in re.split(r"&&", inner):
            m = re.match(
                r"\s*(?:(SUM|MIN|MAX|AVG|COUNT)\s*\(\s*(\?[\w]+|\*)\s*\)|\?([\w]+))"
                r"\s*(!=|<=|>=|=|<|>)\s*(.+?)\s*$",
                clause.strip(),
                re.IGNORECASE,
            )
            if not m:
                raise SparqlParseError(f"bad HAVING clause: {clause!r}")
            if m.group(3):
                alias = m.group(3)
                if alias not in {a.alias for a in aggregations} | set(extra_aliases):
                    raise SparqlParseError(
                        f"HAVING references unknown aggregate alias ?{alias}"
                    )
            else:
                fn, var = m.group(1).lower(), m.group(2).lstrip("?")
                match = next(
                    (a for a in aggregations if a.fn == fn and a.var == var), None
                )
                if match is None:
                    raise SparqlParseError(
                        f"HAVING aggregate {fn}(?{var}) not in SELECT"
                    )
                alias = match.alias
            raw = m.group(5).strip()
            if raw.startswith('"'):
                value: str | int | float = raw.strip('"')
                is_str = True
            else:
                value = float(raw) if "." in raw else int(raw)
                is_str = False
            having.append(Filter(alias, m.group(4), value, is_str))
    return having


def _split_union(body: str) -> list[str]:
    """Split a WHERE body of the form ``{...} UNION {...} [UNION ...]``
    into branch bodies; a body without top-level UNION returns itself."""
    stripped = body.strip()
    if not stripped.startswith("{"):
        return [body]
    branches = []
    i = 0
    while True:
        brace = stripped.find("{", i)
        if brace < 0:
            break
        end = _balanced(stripped, brace, "{", "}")
        branches.append(stripped[brace + 1 : end - 1])
        rest = stripped[end:].lstrip()
        if rest.upper().startswith("UNION"):
            i = end + stripped[end:].upper().index("UNION") + 5
            continue
        if rest:
            return [body]  # a leading group followed by more patterns: not a UNION
        break
    return branches if len(branches) > 1 else [body]


@dataclass
class _OptBlock:
    """One OPTIONAL block, with enough structure to validate nesting.

    ``depth`` is 1 for a top-level OPTIONAL, 2 for an OPTIONAL inside it,
    etc.  ``parent`` is the enclosing block (None at depth 1).  A nested
    block is sound only when it introduces brand-new stars that connect
    through its *parent* block — then the left-deep join chain
    ``... LEFT JOIN parent LEFT JOIN child ON parent.col = child_ID``
    reproduces SPARQL's nested-left-join semantics exactly (the child's
    join key is NULL wherever the parent did not match, so the child
    cannot match either — the well-designed-pattern case of
    Pérez/Arenas/Gutierrez 2009, §4.2)."""

    triples: list
    subjects: set
    obj_vars: set
    filters: list
    expr_filters: list
    depth: int
    parent: "_OptBlock | None" = None


def _collect_optional_blocks(
    inner: str, prefixes: dict[str, str], depth: int, blocks: list[_OptBlock]
) -> _OptBlock:
    """Parse one OPTIONAL block body, recursing into nested OPTIONALs.

    Appends to ``blocks`` parent-first (the enclosing block before its
    children) so downstream star/edge construction sees parents first,
    which keeps the left-deep join order parent-before-child."""
    child_bodies: list[str] = []
    while True:
        om = re.search(r"OPTIONAL\s*\{", inner, re.IGNORECASE)
        if not om:
            break
        oend = _balanced(inner, inner.index("{", om.start()), "{", "}")
        child_bodies.append(inner[om.end() : oend - 1])
        inner = inner[: om.start()] + " " + inner[oend:]
    inner, ofilters, oexpr = _parse_filters(inner, prefixes)
    otr, olit = _parse_triples(inner, prefixes)
    blk = _OptBlock(
        triples=otr,
        subjects={t.subject for t in otr},
        obj_vars={t.obj for t in otr if t.obj_is_var},
        filters=ofilters + olit,
        expr_filters=oexpr,
        depth=depth,
    )
    blocks.append(blk)
    for cb in child_bodies:
        child = _collect_optional_blocks(cb, prefixes, depth + 1, blocks)
        child.parent = blk
    return blk


def _parse_group(
    body: str, prefixes: dict[str, str]
) -> tuple[
    dict[str, Star],
    dict[str, tuple[str, str]],
    list[Filter],
    set[str],
    list[ExprFilter],
    list,
]:
    """Parse one group graph pattern: triples + FILTERs + OPTIONAL blocks
    (including nested OPTIONAL).  Each OPTIONAL block that introduces
    new stars becomes a model.OptionalBlock join unit — the lowering
    inner-joins a unit's stars, attaches child units with LEFT JOINs,
    and left-joins the assembled unit onto its enclosing scope (see
    _OptBlock for the source-level structure)."""
    opt_blocks: list[_OptBlock] = []
    while True:
        om = re.search(r"OPTIONAL\s*\{", body, re.IGNORECASE)
        if not om:
            break
        oend = _balanced(body, body.index("{", om.start()), "{", "}")
        oinner = body[om.end() : oend - 1]
        # FILTERs inside OPTIONAL constrain the optional star BEFORE the
        # left join (they cannot eliminate left rows) — since the engine
        # applies all star filters pre-join, hoisting them preserves the
        # SPARQL semantics as long as they reference that block's
        # optional-star vars (validated below once the stars are known;
        # this holds for expression FILTERs too, which become star-scoped
        # pre-join predicates instead of post-join ones)
        _collect_optional_blocks(oinner, prefixes, 1, opt_blocks)
        body = body[: om.start()] + " " + body[oend:]
    optional_triples = [t for blk in opt_blocks for t in blk.triples]
    optional_subjects = {s for blk in opt_blocks for s in blk.subjects}
    # var-to-var filters stay with their block (applied inside the
    # block's internal inner join when legal — see validation below);
    # everything else hoists to pre-join star filters
    optional_filters = [
        f
        for blk in opt_blocks
        for f in blk.filters
        if not getattr(f, "value_is_var", False)
    ]

    body, filters, expr_filters = _parse_filters(body, prefixes)
    filters += optional_filters
    triples, lit_filters = _parse_triples(body, prefixes)
    filters += lit_filters
    mandatory_subjects = {t.subject for t in triples}
    optional_subjects -= mandatory_subjects
    triples += optional_triples

    stars: dict[str, Star] = {}
    var_to_star_pred: dict[str, tuple[str, str]] = {}
    for t in triples:
        star = stars.setdefault(t.subject, Star(t.subject))
        if t.predicate == RDF_TYPE and not t.obj_is_var:
            star.class_iri = t.obj
            continue
        star.triples.append(t)
        if t.obj_is_var:
            var_to_star_pred.setdefault(t.obj, (t.subject, t.predicate))

    # Nested-OPTIONAL soundness: a child block must introduce brand-new
    # stars (not re-bind a mandatory or enclosing-block subject — that
    # would be column-level optionality inside an already-optional star,
    # which the flat star model cannot express) and must connect through
    # its PARENT block (the child's subject appears as an object variable
    # of a parent triple), so the left-deep join chain's child join key
    # is NULL exactly when the parent did not match.
    for blk in opt_blocks:
        if blk.depth == 1:
            continue
        assert blk.parent is not None
        if blk.subjects & mandatory_subjects:
            raise SparqlParseError(
                "nested OPTIONAL must introduce a new star; "
                f"{sorted(blk.subjects & mandatory_subjects)} already "
                "appear(s) in the mandatory pattern — move the triples "
                "into the outer group or a top-level OPTIONAL"
            )
        if blk.subjects & blk.parent.subjects:
            raise SparqlParseError(
                "nested OPTIONAL re-binds its enclosing OPTIONAL's star "
                f"{sorted(blk.subjects & blk.parent.subjects)}; per-column "
                "optionality inside an optional star is not expressible — "
                "flatten into the enclosing block"
            )
        for s in blk.subjects:
            # connected either direction: the parent points at the child
            # (parent triple's object var == child subject) or the child
            # points at the parent / a sibling star of the same block
            # (child triple's object var == parent or sibling subject)
            reachable = blk.parent.subjects | (blk.subjects - {s})
            child_points_out = any(
                t.subject == s and t.obj_is_var and t.obj in reachable
                for t in blk.triples
            )
            if s not in blk.parent.obj_vars and not child_points_out:
                raise SparqlParseError(
                    f"nested OPTIONAL star ?{s} does not connect through "
                    "its enclosing OPTIONAL block (one side's triple must "
                    "point at the other's subject) — a disconnected "
                    "nested OPTIONAL is not a well-designed pattern"
                )

    # Hoisting an OPTIONAL-internal FILTER to a pre-join star filter is
    # only sound when the filter constrains a star of *that block*:
    # applied to a mandatory star it would eliminate left rows, and
    # applied to a different block's star it would constrain an
    # unrelated left join, both violating SPARQL left-join semantics
    # (the reference leaves OPTIONAL unimplemented,
    # QueryAnalyser.scala:163 TODO; we support it but refuse the shapes
    # we would silently get wrong).
    # Build the join-unit records (model.OptionalBlock): only blocks
    # introducing NEW stars form units; parent links skip unit-less
    # ancestors (a block that merely re-reads mandatory columns is not
    # a join scope in the flat relational mapping).
    from sparkall_spark.plans.model import OptionalBlock

    unit_idx: dict[int, int] = {}  # id(_OptBlock) -> OptionalBlock idx
    optional_blocks: list[OptionalBlock] = []
    blk_var_filters: dict[int, list] = {}
    blk_expr_filters: dict[int, list] = {}
    for blk in opt_blocks:
        new_subjects = blk.subjects - mandatory_subjects
        if not new_subjects:
            continue
        parent = blk.parent
        while parent is not None and id(parent) not in unit_idx:
            parent = parent.parent
        pidx = unit_idx[id(parent)] if parent is not None else None
        unit_idx[id(blk)] = len(optional_blocks)
        blk_var_filters[len(optional_blocks)] = []
        blk_expr_filters[len(optional_blocks)] = []
        optional_blocks.append(
            OptionalBlock(
                idx=len(optional_blocks),
                parent=pidx,
                subjects=frozenset(new_subjects),
            )
        )

    def _star_of(var: str, ctx: str) -> str:
        if var in stars:
            return var
        if var in var_to_star_pred:
            return var_to_star_pred[var][0]
        raise SparqlParseError(
            f"{ctx} inside OPTIONAL references unbound variable ?{var}"
        )

    blk_attach_var: dict[int, list] = {b.idx: [] for b in optional_blocks}
    blk_attach_expr: dict[int, list] = {b.idx: [] for b in optional_blocks}

    def _visible_scope(uidx: int) -> set[str]:
        """Stars whose columns are present when unit ``uidx`` attaches:
        a top-level unit sees the mandatory pattern plus every earlier
        top-level tree; a nested unit sees its ancestor units (it
        attaches INSIDE the parent, before the parent meets the
        mandatory pattern)."""
        b = optional_blocks[uidx]
        if b.parent is None:
            vis = set(mandatory_subjects)
            for u in optional_blocks:
                if u.idx < uidx:
                    vis |= set(u.subjects)
            return vis
        vis = set()
        p = b.parent
        while p is not None:
            vis |= set(optional_blocks[p].subjects)
            p = optional_blocks[p].parent
        return vis

    for blk in opt_blocks:
        uidx = unit_idx.get(id(blk))
        usubjects = (
            optional_blocks[uidx].subjects if uidx is not None else frozenset()
        )
        visible = _visible_scope(uidx) if uidx is not None else set()
        for f in blk.filters:
            if getattr(f, "value_is_var", False):
                # Var-to-var comparison: applied inside the unit when
                # both vars bind to THIS block's stars; as part of the
                # unit's LEFT JOIN ON condition when it spans the block
                # and its enclosing scope (SPARQL LeftJoin(Ω1, Ω2,
                # expr) — the filter decides whether the block matches,
                # never whether the enclosing row survives).
                s1 = _star_of(f.var, f"FILTER (?{f.var} {f.op} ?{f.value})")
                s2 = _star_of(
                    str(f.value), f"FILTER (?{f.var} {f.op} ?{f.value})"
                )
                if uidx is not None and {s1, s2} <= set(usubjects):
                    blk_var_filters[uidx].append(f)
                    continue
                if uidx is not None and {s1, s2} <= (
                    set(usubjects) | visible
                ):
                    blk_attach_var[uidx].append(f)
                    continue
                raise SparqlParseError(
                    f"var-to-var FILTER (?{f.var} {f.op} ?{f.value}) inside "
                    "OPTIONAL references a star outside the block's "
                    "enclosing scope — move it outside the OPTIONAL block"
                )
            bound_star = _star_of(f.var, "FILTER")
            if bound_star in blk.subjects:
                continue  # hoisted pre-join star filter (optional_filters)
            # a filter on an ENCLOSING-scope var inside OPTIONAL guards
            # whether the block matches: LEFT JOIN ON condition
            if uidx is not None and bound_star in visible:
                blk_attach_var[uidx].append(f)
                # remove from the hoisted pre-join lists BY IDENTITY
                # (an equal filter may legitimately exist outside the
                # OPTIONAL and must keep applying globally): applied at
                # attach time instead, pre-join would drop left rows
                optional_filters[:] = [x for x in optional_filters if x is not f]
                filters[:] = [x for x in filters if x is not f]
                continue
            raise SparqlParseError(
                f"FILTER on ?{f.var} inside OPTIONAL binds to star "
                f"?{bound_star}, which is not visible where this block "
                "attaches — move the FILTER outside the OPTIONAL block"
            )

        # Expression FILTERs inside OPTIONAL: a single-star reference
        # hoists to a PRE-join predicate on that star; multi-star within
        # the block applies inside the unit; spanning the block and its
        # enclosing scope becomes the unit's LEFT JOIN ON condition.
        for ef in blk.expr_filters:
            ef_stars = {
                _star_of(v, f"FILTER({ef.raw})") for v in expr_vars(ef.expr)
            }
            if len(ef_stars) == 1 and ef_stars <= (
                optional_subjects & blk.subjects
            ):
                expr_filters.append(
                    ExprFilter(ef.expr, ef.raw, star=ef_stars.pop())
                )
                continue
            if (
                uidx is not None
                and len(ef_stars) > 1
                and ef_stars <= set(usubjects)
            ):
                blk_expr_filters[uidx].append(ef)
                continue
            if uidx is not None and ef_stars <= (set(usubjects) | visible):
                blk_attach_expr[uidx].append(ef)
                continue
            raise SparqlParseError(
                f"expression FILTER inside OPTIONAL references stars "
                f"outside the block's enclosing scope (got stars "
                f"{sorted(ef_stars)}): {ef.raw!r}"
            )

    optional_blocks = [
        OptionalBlock(
            idx=b.idx,
            parent=b.parent,
            subjects=b.subjects,
            var_filters=tuple(blk_var_filters[b.idx]),
            expr_filters=tuple(blk_expr_filters[b.idx]),
            attach_var_filters=tuple(blk_attach_var[b.idx]),
            attach_expr_filters=tuple(blk_attach_expr[b.idx]),
        )
        for b in optional_blocks
    ]

    return (
        stars,
        var_to_star_pred,
        filters,
        optional_subjects,
        expr_filters,
        optional_blocks,
    )
