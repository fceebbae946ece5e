"""Deferred-SQL backend: compile a whole query to ONE SQL string.

This is the Spark-first re-expression of the reference's second
executor (PrestoExecutor + DataQueryFrame, a deferred-SQL IR that
accumulates selects/filters/joins and renders one federated SQL string,
reference: model/DataQueryFrame.scala:5-15, PrestoExecutor.scala:404-518).
Instead of shipping the string to Presto over JDBC, we register each
star's source as a temp view and hand the single statement to
``spark.sql`` — Catalyst sees exactly the same logical plan as the
DataFrame backend, so both backends must agree bit-for-bit (asserted in
tests/test_sqlgen.py).

The generated SQL is deliberately ANSI-flavored: per-star derived
tables with stable aliases, explicit JOIN ... ON chains, WHERE /
GROUP BY / ORDER BY / LIMIT — so it can also serve as documentation of
what a query means, or be pointed at another SQL engine for true
federation.
"""

from __future__ import annotations

import re
import uuid
from dataclasses import dataclass

from sparkall_spark.functions.transforms import TransformError, _FN_RE
from sparkall_spark.plans.exprs import to_sql
from sparkall_spark.mappings import EntityMapping, MappingIndex
from sparkall_spark.plans.model import Filter, ParsedQuery
from sparkall_spark.plans.planner import QueryPlan, plan_query
from sparkall_spark.sources import SourceCache

RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"


@dataclass
class CompiledSql:
    sql: str
    views: dict[str, EntityMapping]  # view name -> source to register


class _Views(dict):
    """View name -> source of one compile.  ``bind`` names a source's
    view: the stable ``src_*``/``dsc_*`` name plus ``suffix``, which is
    empty for ``compile_sql`` and unique per call for
    ``execute_sql_backend`` (temp views are session-global, so a shared
    name would let concurrent queries swap each other's sources)."""

    def __init__(self, suffix: str = ""):
        super().__init__()
        self.suffix = suffix

    def bind(self, name: str, mapping: EntityMapping) -> str:
        name += self.suffix
        self[name] = mapping
        return name


def _q(ident: str) -> str:
    return f"`{ident}`"


def _lit(value, is_string: bool) -> str:
    if is_string:
        # backslash first: Spark SQL's default parser processes
        # backslash escapes inside string literals (an RLIKE '\d'
        # pattern would silently lose its backslash otherwise)
        escaped = str(value).replace("\\", "\\\\").replace("'", "''")
        return "'" + escaped + "'"
    return str(value)


def _filter_sql(col: str, f: Filter) -> str:
    if f.op == "regex":
        return f"{col} LIKE {_lit(f.value, True)}"
    if f.op == "ilike":
        return f"{col} ILIKE {_lit(f.value, True)}"
    if f.op == "rlike":
        return f"{col} RLIKE {_lit(f.value, True)}"
    if f.op in ("in", "in_null_ok"):  # VALUES ?v { ... }
        items = ", ".join(
            _lit(v, isinstance(v, str)) for v in f.value
        )
        if f.op == "in_null_ok":
            # outer VALUES on an optional var: unbound rows survive
            return f"({col} IS NULL OR {col} IN ({items}))"
        return f"{col} IN ({items})"
    op = "<>" if f.op == "!=" else f.op
    return f"{col} {op} {_lit(f.value, f.value_is_string)}"


def _transform_sql(expr: str, fn: str) -> tuple[str, str | None]:
    """Render one TRANSFORM DSL function to SQL; returns (expr, filter)."""
    m = _FN_RE.match(fn.strip())
    if not m:
        raise TransformError(f"bad transformation: {fn!r}")
    name, arg = m.group(1), (m.group(2) or "").strip()
    if name == "toInt":
        return f"TRY_CAST({expr} AS INT)", None
    if name == "toLong":
        return f"TRY_CAST({expr} AS BIGINT)", None
    if name == "toDouble":
        return f"TRY_CAST({expr} AS DOUBLE)", None
    if name == "toStr":
        return f"CAST({expr} AS STRING)", None
    if name == "scl":
        sm = re.match(r"^_?\s*([+\-*/])\s*(-?\d+(?:\.\d+)?)$", arg)
        if not sm:
            raise TransformError(f"bad scl argument: {arg!r}")
        return f"({expr} {sm.group(1)} {sm.group(2)})", None
    if name == "skp":
        # marker: the caller renders the row filter against the OUTPUT
        # alias (the wrapper's WHERE can't see source attrs); equivalent
        # to the DataFrame path whenever skp is the last/only step
        return expr, f"<> {_lit_auto(arg)}"
    if name == "substit":
        a, b = [x.strip() for x in arg.split(",")]
        return (
            f"CASE WHEN {expr} = {_lit_auto(a)} THEN {_lit_auto(b)} ELSE {expr} END",
            None,
        )
    if name == "replc":
        a, b = [x.strip() for x in arg.split(",")]
        return f"REPLACE(CAST({expr} AS STRING), {_lit_auto(a)}, {_lit_auto(b)})", None
    if name == "prefix":
        return f"CONCAT({_lit_auto(arg, force_str=True)}, CAST({expr} AS STRING))", None
    if name == "postfix":
        return f"CONCAT(CAST({expr} AS STRING), {_lit_auto(arg, force_str=True)})", None
    raise TransformError(f"unknown transformation {name!r}")


def _lit_auto(raw: str, force_str: bool = False) -> str:
    raw = raw.strip().strip('"')
    if not force_str:
        try:
            int(raw)
            return raw
        except ValueError:
            try:
                float(raw)
                return raw
            except ValueError:
                pass
    return "'" + raw.replace("\\", "\\\\").replace("'", "''") + "'"


def _attach_subqueries_sql(
    q: ParsedQuery, core: str, index: MappingIndex, views: _Views
) -> str:
    """SQL twin of executor._attach_subqueries: join each { SELECT ... }
    subquery (compiled recursively to its own single-SQL form) on its
    shared projected variables."""
    for i, sub in enumerate(q.subqueries):
        sub_c = _compile(plan_query(sub), index, views)
        shared = [
            v
            for v in sub.output_vars()
            if v in q.stars or v in q.var_to_star_pred
        ]
        if not shared:
            raise ValueError(
                "subquery must share at least one projected variable "
                "with the outer pattern"
            )
        on = " AND ".join(
            f"{_q(q.column_for_var(v))} = sq{i}.{_q(v)}" for v in shared
        )
        # SELECT *: outer star-aliased columns + the sq's plain-named
        # columns — the alias schemes are disjoint, so no ambiguity
        core = (
            f"(SELECT * FROM {core} JOIN (\n{sub_c.sql}\n) AS sq{i} "
            f"ON {on}) AS wsq{i}"
        )
    return core


def _apply_values_sql(q: ParsedQuery, core: str) -> str:
    """SQL twin of executor._apply_values: join the inline VALUES table
    (Spark SQL: FROM VALUES (..),(..) AS t(cols)); UNDEF -> NULL with a
    null-or-equal condition, all-UNDEF columns pruned."""
    for i, (all_vars, rows) in enumerate(q.values_tables):
        keep = [
            j for j, v in enumerate(all_vars)
            if any(row[j] is not None for row in rows)
        ]
        if not keep:
            continue
        vars_ = [all_vars[j] for j in keep]
        krows = [tuple(row[j] for j in keep) for row in rows]
        has_undef = any(v is None for row in krows for v in row)
        row_sql = ", ".join(
            "("
            + ", ".join(
                "NULL" if v is None else _lit(v, isinstance(v, str))
                for v in row
            )
            + ")"
            for row in krows
        )
        cols = ", ".join(_q(v) for v in vars_)
        on = " AND ".join(
            (
                f"(vt{i}.{_q(v)} IS NULL OR "
                f"{_q(q.column_for_var(v))} = vt{i}.{_q(v)})"
                if has_undef
                else f"{_q(q.column_for_var(v))} = vt{i}.{_q(v)}"
            )
            for v in vars_
        )
        core = (
            f"(SELECT * FROM {core} JOIN "
            f"(SELECT * FROM VALUES {row_sql} AS t({cols})) AS vt{i} "
            f"ON {on}) AS wvt{i}"
        )
    return core


def _star_sql_resolver(q: ParsedQuery, star_name: str):
    """SQL twin of executor._star_var_resolver: resolve a variable to
    its column WITHIN one star's subquery."""

    def resolve(v: str) -> str:
        if v == star_name:
            return _q(f"{star_name}_ID")
        if v in q.var_to_star_pred and q.var_to_star_pred[v][0] == star_name:
            return _q(q.column_for(*q.var_to_star_pred[v]))
        raise ValueError(f"variable ?{v} does not belong to star ?{star_name}")

    return resolve


def _star_subquery(
    q: ParsedQuery,
    plan: QueryPlan,
    star_name: str,
    sources: list[EntityMapping],
    views: _Views,
) -> str:
    star = q.stars[star_name]
    if not sources:
        raise ValueError(f"no relevant source for star ?{star_name}")

    # transforms targeting this star: side l -> edge join column,
    # side r -> the ID column
    col_transforms: dict[str, list[str]] = {}
    row_filters: list[str] = []
    for spec in q.transforms:
        if spec.side == "l" and spec.left_var == star_name:
            edge = next(
                e
                for e in plan.join_edges
                if e.left_star == spec.left_var and e.right_star == spec.right_var
            )
            col_transforms.setdefault(
                q.column_for(star_name, edge.pred), []
            ).extend(spec.functions)
        elif spec.side == "r" and spec.right_var == star_name:
            col_transforms.setdefault(f"{star_name}_ID", []).extend(spec.functions)

    selects = []
    for m_idx, m in enumerate(sources):
        view = views.bind(
            f"src_{m.name.lower()}_{m_idx}" if len(sources) > 1 else f"src_{m.name.lower()}",
            m,
        )
        cols = []
        branch_filters: list[str] = []  # this source's mapping-declared filters
        for out_col, attr, pred in [(f"{star_name}_ID", m.id_attr, None)] + [
            (q.column_for(star_name, p), m.predicates[p], p)
            for p in sorted(plan.needed_preds[star_name])
        ]:
            expr = _q(attr)
            # mapping-declared (RML FnO) transforms are per-source: their
            # row filters (skp) must apply inside THIS branch's SELECT,
            # matching the DataFrame backend's per-source raw.filter
            # (executor.py); inline TRANSFORM clauses are identical
            # across sources, so their filter is emitted once at the
            # union level (m_idx == 0)
            for fn in m.transforms.get(pred, ()) if pred else ():
                expr, flt = _transform_sql(expr, fn)
                if flt:
                    branch_filters.append(f"{expr} {flt}")
            for fn in col_transforms.get(out_col, []):
                expr, flt = _transform_sql(expr, fn)
                if flt and m_idx == 0:  # one filter per column, not per source
                    row_filters.append(f"{_q(out_col)} {flt}")
            cols.append(f"{expr} AS {_q(out_col)}")
        sel = f"SELECT {', '.join(cols)} FROM {_q(view)}"
        if branch_filters:
            sel += " WHERE " + " AND ".join(branch_filters)
        selects.append(sel)
    body = "\nUNION ALL\n".join(selects)

    conds = []
    for f in q.filters:
        if f.value_is_var:
            continue  # var-to-var comparisons apply post-join
        if f.op == "in_null_ok":
            continue  # null-compatible outer VALUES: post-join only
        if f.var == star_name:
            conds.append(_filter_sql(_q(f"{star_name}_ID"), f))
        elif (
            f.var in q.var_to_star_pred and q.var_to_star_pred[f.var][0] == star_name
        ):
            # join variables resolve via (star, pred) — see executor.py
            # _apply_star_filters for the BSBM Q7/Q8 rationale
            conds.append(_filter_sql(_q(q.column_for(*q.var_to_star_pred[f.var])), f))
    for ef in q.expr_filters:
        if ef.star == star_name:
            # OPTIONAL-internal expression filter: pre-join on this star
            conds.append(to_sql(ef.expr, _star_sql_resolver(q, star_name)))
    all_conds = conds + row_filters
    # wrap once so every condition references output aliases (Catalyst
    # pushes the predicates back into the scan regardless)
    sub = f"SELECT * FROM (\n{body}\n) AS s_{star_name}"
    if all_conds:
        sub += " WHERE " + " AND ".join(all_conds)
    return f"({sub})"


def _apply_construct_sql(q: ParsedQuery, sql: str) -> str:
    """CONSTRUCT materialization, SQL rendering: explode an ARRAY of
    named_structs over the solution query, so the WHERE executes ONCE
    (Spark inlines CTEs — a UNION ALL of per-triple selects would
    re-run the solution plan k times).  Mirrors
    executor._apply_construct."""
    if not q.construct_template:
        return sql
    structs: list[str] = []
    for trip in q.construct_template:
        fields: list[str] = []
        for term, out in zip(trip, ("subject", "predicate", "object")):
            kind, val = term
            expr = (
                f"CAST({_q(val)} AS STRING)"
                if kind == "var"
                else _lit(str(val), True)
            )
            fields.append(f"'{out}', {expr}")
        structs.append(f"named_struct({', '.join(fields)})")
    arr = ",\n  ".join(structs)
    return (
        f"SELECT DISTINCT t.`subject`, t.`predicate`, t.`object` FROM (\n"
        f"SELECT explode(array(\n  {arr}\n)) AS t FROM ({sql}) AS sol\n"
        f") AS graph\n"
        f"WHERE t.`subject` IS NOT NULL AND t.`predicate` IS NOT NULL "
        f"AND t.`object` IS NOT NULL"
    )


def _apply_describe_sql(
    plan: QueryPlan, index: MappingIndex, views: _Views, sql: str,
) -> str:
    """DESCRIBE, SQL rendering: solution query -> CTE `sol`; one SELECT
    per (source, predicate) filtered by `id IN (SELECT var FROM sol)`,
    plus the rdf:type triple, UNION ALL + DISTINCT.  More scans than
    the DataFrame backend's unpivot, but this backend's contract is a
    single portable SQL statement; Catalyst's CSE still collapses the
    repeated view reads."""
    q = plan.query
    if not q.describe_vars:
        return sql
    parts: list[str] = []
    for v in q.describe_vars:
        star = q.stars[v]
        for mi, m in enumerate(index.relevant_sources(star)):
            view = views.bind(f"dsc_{m.name.lower()}_{mi}", m)
            member = f"{_q(m.id_attr)} IN (SELECT {_q(v)} FROM sol)"
            subj = f"CAST({_q(m.id_attr)} AS STRING) AS `subject`"
            for iri, attr in sorted(m.predicates.items()):
                expr = _q(attr)
                conds = [member]
                for fn in m.transforms.get(iri, ()):
                    expr, flt = _transform_sql(expr, fn)
                    if flt:
                        conds.append(f"{expr} {flt}")
                conds.append(f"{expr} IS NOT NULL")
                parts.append(
                    f"SELECT {subj}, {_lit(iri, True)} AS `predicate`, "
                    f"CAST({expr} AS STRING) AS `object` "
                    f"FROM {_q(view)} WHERE {' AND '.join(conds)}"
                )
            if m.class_iri:
                parts.append(
                    f"SELECT {subj}, {_lit(RDF_TYPE, True)} AS `predicate`, "
                    f"{_lit(m.class_iri, True)} AS `object` "
                    f"FROM {_q(view)} WHERE {member}"
                )
    body = "\nUNION ALL\n".join(f"({p})" for p in parts)
    return (
        f"WITH sol AS ({sql})\n"
        f"SELECT DISTINCT * FROM (\n{body}\n) AS described"
    )


def compile_sql(plan: QueryPlan, index: MappingIndex) -> CompiledSql:
    return _compile(plan, index, _Views())


def _compile(plan: QueryPlan, index: MappingIndex, views: _Views) -> CompiledSql:
    q = plan.query
    if q.union_branches:
        parts = []
        for b in [q] + q.union_branches:
            bplan = plan_query(b)
            parts.append(_branch_sql(bplan, index, views))
        if q.is_ask:
            # ASK over UNION: any branch non-empty.  Branches carry a
            # constant `1 AS __one` projection (_branch_sql; ASK has no
            # select vars) and each probes at most one row.
            sql = "\nUNION ALL\n".join(
                f"(SELECT * FROM ({p}) AS b{i} LIMIT 1)"
                for i, p in enumerate(parts)
            )
            return CompiledSql(
                f"SELECT count(*) > 0 AS `ask` FROM (\n{sql}\n) AS un",
                views,
            )
        sql = "\nUNION ALL\n".join(f"({p})" for p in parts)
        outer = f"SELECT {'DISTINCT ' if q.distinct else ''}* FROM (\n{sql}\n) AS un"
        if q.order_keys:
            outer += " ORDER BY " + ", ".join(
                f"{_q(k.var)}{' DESC' if k.descending else ''}" for k in q.order_keys
            )
        if q.limit is not None:
            outer += f" LIMIT {q.limit}"
        if q.offset is not None:
            outer += f" OFFSET {q.offset}"
        return CompiledSql(_apply_construct_sql(q, outer), views)

    core = _core_sql(plan, index, views)
    core = _attach_subqueries_sql(q, core, index, views)
    core = _apply_values_sql(q, core)
    core = _apply_minus_sql(q, plan, index, views, core)
    core = _apply_binds_sql(q, core)

    if q.is_ask:
        return CompiledSql(
            f"SELECT count(*) > 0 AS `ask` FROM "
            f"(SELECT * FROM {core} LIMIT 1) AS ask_probe",
            views,
        )

    if q.aggregations or q.group_by:
        group_cols = [f"{_q(q.column_for_var(v))} AS {_q(v)}" for v in q.group_by]
        aggs = []
        for a in q.aggregations:
            if a.var == "*":
                inner = "*"
            else:
                inner = _q(q.column_for_var(a.var))
                if a.distinct and a.fn != "group_concat":
                    inner = f"DISTINCT {inner}"
            if a.fn == "group_concat":
                # backslash first: Spark SQL string literals treat it as
                # an escape (same rule as plans/exprs.py to_sql)
                sep = (
                    (a.separator if a.separator is not None else " ")
                    .replace("\\", "\\\\")
                    .replace("'", "''")
                )
                coll = "collect_set" if a.distinct else "collect_list"
                aggs.append(
                    f"concat_ws('{sep}', sort_array({coll}(CAST({inner} AS "
                    f"STRING)))) AS {_q(a.alias)}"
                )
            elif a.fn == "sample":
                aggs.append(f"MIN({inner}) AS {_q(a.alias)}")
            else:
                aggs.append(f"{a.fn.upper()}({inner}) AS {_q(a.alias)}")
        sel = ", ".join(group_cols + aggs)
        sql = f"SELECT {sel} FROM {core}"
        if q.group_by:
            sql += " GROUP BY " + ", ".join(_q(q.column_for_var(v)) for v in q.group_by)
        if q.post_agg_exprs:
            # expressions over aggregates: compute declared aliases from
            # the internal __aggN columns, then prune the internals
            pe_sql = ", ".join(
                f"{to_sql(pe.expr, lambda v: _q(v))} AS {_q(pe.alias)}"
                for pe in q.post_agg_exprs
            )
            sql = f"SELECT *, {pe_sql} FROM ({sql}) AS pagg"
        if q.having:
            sql = f"SELECT * FROM ({sql}) AS hv WHERE " + " AND ".join(
                _filter_sql(_q(h.var), h) for h in q.having
            )
        if q.post_agg_exprs:
            keep = (
                [v for v in q.select_vars if v in q.group_by]
                + [
                    a.alias
                    for a in q.aggregations
                    if not a.alias.startswith("__agg")
                ]
                + [pe.alias for pe in q.post_agg_exprs]
            )
            sql = (
                f"SELECT {', '.join(_q(c) for c in keep)} FROM ({sql}) AS pgp"
            )
        order_names = {
            **{v: v for v in q.group_by},
            **{a.alias: a.alias for a in q.aggregations},
            **{pe.alias: pe.alias for pe in q.post_agg_exprs},
        }
        if q.order_keys:
            sql = f"SELECT * FROM ({sql}) AS agg ORDER BY " + ", ".join(
                f"{_q(order_names[k.var])}{' DESC' if k.descending else ''}"
                for k in q.order_keys
            )
    else:
        sel = ", ".join(
            f"{_q(q.column_for_var(v))} AS {_q(v)}" for v in q.select_vars
        )
        sql = f"SELECT {'DISTINCT ' if q.distinct else ''}{sel} FROM {core}"
        if q.order_keys:
            # projected sort keys must use the output alias (required
            # under DISTINCT; internal names are gone after projection)
            sql += " ORDER BY " + ", ".join(
                f"{_q(k.var if k.var in q.select_vars else q.column_for_var(k.var))}"
                f"{' DESC' if k.descending else ''}"
                for k in q.order_keys
            )
    if q.limit is not None:
        sql += f" LIMIT {q.limit}"
    if q.offset is not None:
        sql += f" OFFSET {q.offset}"
    sql = _apply_construct_sql(q, sql)
    sql = _apply_describe_sql(plan, index, views, sql)
    return CompiledSql(sql, views)


def _apply_binds_sql(q: ParsedQuery, core: str) -> str:
    """Post-join layer mirroring executor._apply_binds: BIND computed
    columns as nested projections (one per bind, so later binds may
    reference earlier aliases), then the filters that can only run here
    (bind-alias filters and var-to-var comparisons)."""
    for i, b in enumerate(q.binds):
        expr = to_sql(b.expr, lambda v: _q(q.column_for_var(v)))
        core = (
            f"(SELECT *, {expr} AS {_q(q.column_for_var(b.alias))} "
            f"FROM {core}) AS bnd{i}"
        )
    aliases = {b.alias for b in q.binds} | {
        v
        for v in q.subquery_vars()
        if v not in q.stars and v not in q.var_to_star_pred
    }
    conds = [
        to_sql(ef.expr, lambda v: _q(q.column_for_var(v)))
        for ef in q.expr_filters
        if ef.star is None  # star-scoped ones were applied pre-join
    ]
    for f in q.filters:
        if f.value_is_var:
            op = "<>" if f.op == "!=" else f.op
            conds.append(
                f"{_q(q.column_for_var(f.var))} {op} "
                f"{_q(q.column_for_var(str(f.value)))}"
            )
        elif f.op == "in_null_ok" or f.var in aliases:
            conds.append(_filter_sql(_q(q.column_for_var(f.var)), f))
    if conds:
        core = f"(SELECT * FROM {core} WHERE {' AND '.join(conds)}) AS bndf"
    return core


def _apply_minus_sql(
    q: ParsedQuery,
    plan: QueryPlan,
    index: MappingIndex,
    views: _Views,
    core: str,
) -> str:
    """SPARQL MINUS / FILTER [NOT] EXISTS as LEFT ANTI/SEMI JOIN."""
    groups = [(g, "LEFT ANTI JOIN") for g in q.minus_groups] + [
        (g, "LEFT SEMI JOIN") for g in q.exists_groups
    ]
    for i, (mg, jt) in enumerate(groups):
        main_vars = set(q.var_to_star_pred) | set(q.stars)
        shared = sorted(main_vars & (set(mg.var_to_star_pred) | set(mg.stars)))
        if not shared:
            continue
        mg.select_vars = shared
        mplan = plan_query(mg)
        mcore = _apply_binds_sql(mg, _core_sql(mplan, index, views))
        msel = ", ".join(
            f"{_q(mg.column_for_var(v))} AS {_q('__m_' + v)}" for v in shared
        )
        conds = " AND ".join(
            f"{_q(q.column_for_var(v))} = {_q('__m_' + v)}" for v in shared
        )
        core = (
            f"(SELECT * FROM (SELECT * FROM {core}) AS b{i} "
            f"{jt} (SELECT DISTINCT {msel} FROM {mcore}) AS m{i} "
            f"ON {conds}) AS mn{i}"
        )
    return core


def _core_sql(
    plan: QueryPlan, index: MappingIndex, views: _Views
) -> str:
    """FROM clause: star subqueries chained with JOIN ... ON, OPTIONAL
    blocks rendered as LEFT-joined UNIT subqueries (mirrors
    executor._join_stars — a block's stars inner-join inside one
    subquery, child blocks LEFT-join inside it, and the assembled unit
    LEFT-joins the enclosing scope on all its connecting edges)."""
    q = plan.query
    subs = {
        name: _star_subquery(q, plan, name, index.relevant_sources(star), views)
        for name, star in q.stars.items()
    }
    if not plan.join_edges:
        (only,) = subs
        return f"{subs[only]} AS {_q(only)}"

    from collections import deque

    blocks = q.optional_blocks
    star_block = {s: b.idx for b in blocks for s in b.subjects}
    mandatory = [s for s in q.stars if s not in star_block]

    mand_edges: list = []
    internal: dict[int, list] = {b.idx: [] for b in blocks}
    connecting: dict[int, list] = {b.idx: [] for b in blocks}
    for e in plan.join_edges:
        sl = star_block.get(e.left_star)
        sr = star_block.get(e.right_star)
        if sl is None and sr is None:
            mand_edges.append(e)
        elif sl == sr:
            internal[sl].append(e)
        else:
            owner = sr if sl is None else sl if sr is None else max(sl, sr)
            connecting[owner].append(e)

    def econd(e) -> str:
        # column names are globally unique (star_pred_prefix scheme), so
        # unqualified references resolve across arbitrary nesting
        return (
            f"{_q(q.column_for(e.left_star, e.pred))} = "
            f"{_q(f'{e.right_star}_ID')}"
        )

    def _hint(names) -> str:
        bstars = sorted(
            name
            for name in names
            if (srcs := index.relevant_sources(q.stars[name]))
            and all(m.broadcast for m in srcs)
        )
        return (
            "/*+ " + ", ".join(f"BROADCAST({_q(s)})" for s in bstars) + " */ "
            if bstars
            else ""
        )

    def inner_chain(names: list, edges: list) -> tuple[str, list]:
        """JOIN chain over a star set; returns (sql, cycle_conds)."""
        if len(names) == 1:
            return f"{subs[names[0]]} AS {_q(names[0])}", []
        pend = deque(edges)
        sql = None
        seen: set = set()
        extra: list = []
        stall = 0
        while pend:
            e = pend.popleft()
            if sql is None:
                sql = (
                    f"{subs[e.left_star]} AS {_q(e.left_star)}"
                    f"\nJOIN {subs[e.right_star]} AS {_q(e.right_star)} "
                    f"ON {econd(e)}"
                )
                seen = {e.left_star, e.right_star}
            elif e.left_star in seen and e.right_star in seen:
                extra.append(econd(e))
            elif e.left_star in seen:
                sql += (
                    f"\nJOIN {subs[e.right_star]} AS {_q(e.right_star)} "
                    f"ON {econd(e)}"
                )
                seen.add(e.right_star)
            elif e.right_star in seen:
                sql += (
                    f"\nJOIN {subs[e.left_star]} AS {_q(e.left_star)} "
                    f"ON {econd(e)}"
                )
                seen.add(e.left_star)
            else:
                pend.append(e)
                stall += 1
                if stall > len(pend):
                    raise ValueError("disconnected join graph")
                continue
            stall = 0
        if set(names) - seen:
            raise ValueError(
                f"stars not joined (cartesian not supported): "
                f"{sorted(set(names) - seen)}"
            )
        return sql, extra

    def render_unit(b) -> str:
        chain, extra = inner_chain(sorted(b.subjects), internal[b.idx])
        conds = list(extra)
        for f in b.var_filters:
            op = "<>" if f.op == "!=" else f.op
            conds.append(
                f"{_q(q.column_for_var(f.var))} {op} "
                f"{_q(q.column_for_var(str(f.value)))}"
            )
        for ef in b.expr_filters:
            conds.append(to_sql(ef.expr, lambda v: _q(q.column_for_var(v))))
        core = (
            f"(SELECT {_hint(b.subjects)}* FROM {chain}"
            + (f" WHERE {' AND '.join(conds)}" if conds else "")
            + f") AS u{b.idx}"
        )
        for c in blocks:
            if c.parent == b.idx:
                core = (
                    f"(SELECT * FROM {core}"
                    f"\nLEFT JOIN {render_unit(c)} ON {attach_cond(c)}"
                    f") AS un{c.idx}"
                )
        return core

    def attach_cond(b) -> str:
        if not connecting[b.idx]:
            raise ValueError(
                "OPTIONAL block "
                f"{{{', '.join('?' + s for s in sorted(b.subjects))}}} "
                "shares no join variable with its enclosing pattern"
            )
        conds = [econd(e) for e in connecting[b.idx]]
        # LeftJoin(Ω1, Ω2, expr): scope-spanning block FILTERs join the
        # ON condition (mirrors executor._attach_unit)
        for f in b.attach_var_filters:
            if f.value_is_var:
                op = "<>" if f.op == "!=" else f.op
                conds.append(
                    f"{_q(q.column_for_var(f.var))} {op} "
                    f"{_q(q.column_for_var(str(f.value)))}"
                )
            else:
                conds.append(_filter_sql(_q(q.column_for_var(f.var)), f))
        for ef in b.attach_expr_filters:
            conds.append(to_sql(ef.expr, lambda v: _q(q.column_for_var(v))))
        return " AND ".join(conds)

    tops = [b for b in blocks if b.parent is None]
    if mandatory:
        sql, extra = inner_chain(sorted(mandatory), mand_edges)
        hint_names: list = list(mandatory)
    else:
        # fully-optional pattern: the first unit is the base scope
        base, tops = tops[0], tops[1:]
        sql, extra = render_unit(base), []
        hint_names = []

    for b in tops:
        sql += f"\nLEFT JOIN {render_unit(b)} ON {attach_cond(b)}"

    core = f"(SELECT {_hint(hint_names)}* FROM {sql}"
    if extra:
        core += " WHERE " + " AND ".join(extra)
    return core + ") AS joined"


def _branch_sql(
    plan: QueryPlan, index: MappingIndex, views: _Views
) -> str:
    q = plan.query
    core = _attach_subqueries_sql(q, _core_sql(plan, index, views), index, views)
    core = _apply_values_sql(q, core)
    core = _apply_binds_sql(q, core)
    bind_aliases = {b.alias for b in q.binds}
    sq_vars = q.subquery_vars()
    cols = []
    for v in q.select_vars:
        if (
            v in q.stars
            or v in q.var_to_star_pred
            or v in bind_aliases
            or v in sq_vars
        ):
            cols.append(f"{_q(q.column_for_var(v))} AS {_q(v)}")
        else:
            cols.append(f"NULL AS {_q(v)}")
    if not cols:
        # ASK branches have no select vars; a constant keeps the SQL
        # valid (`SELECT FROM` otherwise) and the row count intact
        cols = ["1 AS `__one`"]
    return f"SELECT {', '.join(cols)} FROM {core}"


def execute_sql_backend(
    sources: SourceCache, query_text: str, index: MappingIndex
):
    """Compile to one SQL string, register each source (read through
    ``sources``) under a view name unique to this call, run
    ``spark.sql``.  The views are dropped once ``spark.sql`` has
    analysed the statement: the returned DataFrame holds the resolved
    plan, not the names."""
    from sparkall_spark.plans.parser import parse_sparql

    plan = plan_query(parse_sparql(query_text))
    compiled = _compile(plan, index, _Views(f"_{uuid.uuid4().hex}"))
    spark = sources.spark
    try:
        for view, mapping in compiled.views.items():
            sources.load(mapping).createOrReplaceTempView(view)
        return spark.sql(compiled.sql)
    finally:
        for view in compiled.views:
            spark.catalog.dropTempView(view)
