"""The SPARQL lowering: compile a whole query to ONE SQL string.

This is the Spark-first re-expression of the reference's second
executor (PrestoExecutor + DataQueryFrame, a deferred-SQL IR that
accumulates selects/filters/joins and renders one federated SQL string,
reference: model/DataQueryFrame.scala:5-15, PrestoExecutor.scala:404-518).
Instead of shipping the string to Presto over JDBC, each star's source
is bound as a temp view and the single statement goes to ``spark.sql``:
Catalyst analyses the whole query once, where building the same plan
from DataFrame ops would analyse every op eagerly.  The reference's
Spark executor (SparkExecutor.scala) builds the same pipeline from
DataFrame ops; the statement keeps its order of operations:

- per star: scan -> project/alias (only the needed columns) -> mapping
  and TRANSFORM chains -> filters -> UNION ALL of the relevant sources;
- joins: the reference's pending-queue chaining of equi-joins, so any
  connected join-graph order works; OPTIONAL blocks join as units;
- after the joins: subqueries, VALUES, MINUS/EXISTS, BIND, then
  GROUP BY/HAVING or DISTINCT, ORDER BY (one multi-key clause — the
  reference's per-key loop is last-key-wins, Run.scala:294-299), LIMIT.

The generated SQL is deliberately ANSI-flavored: per-star derived
tables with stable aliases, explicit JOIN ... ON chains, WHERE /
GROUP BY / ORDER BY / LIMIT — so it can also serve as documentation of
what a query means, or be pointed at another SQL engine for true
federation.
"""

from __future__ import annotations

import uuid
from collections import deque
from dataclasses import dataclass

from sparkall_spark.functions.transforms import transform_chain_sql
from sparkall_spark.plans.exprs import to_sql
from sparkall_spark.mappings import EntityMapping, MappingIndex
from sparkall_spark.plans.model import Filter, ParsedQuery
from sparkall_spark.plans.planner import QueryPlan, plan_query
from sparkall_spark.sources import SourceCache

RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"


class ExecutionError(RuntimeError):
    """A parsed query outside the fragment the lowering supports."""


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


def _attach_subqueries_sql(
    q: ParsedQuery, core: str, index: MappingIndex, views: _Views
) -> str:
    """Join each { SELECT ... } subquery (compiled recursively to its
    own single-SQL form) on its shared projected variables (SPARQL 1.1
    §12: a subquery evaluates independently, then joins the enclosing
    group).  Subquery-only output vars surface under their plain names."""
    for i, sub in enumerate(q.subqueries):
        sub_c = _compile(plan_query(sub), index, views)
        shared = [
            v
            for v in sub.output_vars()
            if v in q.stars or v in q.var_to_star_pred
        ]
        if not shared:
            raise ExecutionError(
                "subquery must share at least one projected variable "
                "with the outer pattern (cartesian subqueries are not "
                "supported)"
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
    """Multi-variable VALUES: join the inline solution table (Spark SQL:
    FROM VALUES (..),(..) AS t(cols)) on its variables.  UNDEF rows
    (SPARQL 1.1 §10.2.2) carry NULL and a null-or-equal condition; an
    all-UNDEF column constrains nothing and is pruned."""
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
    """Resolve a variable to its column WITHIN one star's subquery — a
    join variable (object here, subject elsewhere) must resolve to this
    star's join-attribute column, not the other star's ID."""

    def resolve(v: str) -> str:
        if v == star_name:
            return _q(f"{star_name}_ID")
        if v in q.var_to_star_pred and q.var_to_star_pred[v][0] == star_name:
            return _q(q.column_for(*q.var_to_star_pred[v]))
        raise ExecutionError(f"variable ?{v} does not belong to star ?{star_name}")

    return resolve


def _transform_chains(q: ParsedQuery, plan: QueryPlan) -> dict[str, list[str]]:
    """Inline TRANSFORM chains by target column (SparkExecutor.scala:
    127-141): side l rewrites the left star's join-attribute column,
    side r the right star's ID column."""
    chains: dict[str, list[str]] = {}
    for spec in q.transforms:
        edge = next(
            (
                e
                for e in plan.join_edges
                if e.left_star == spec.left_var and e.right_star == spec.right_var
            ),
            None,
        )
        if edge is None:
            raise ExecutionError(
                f"TRANSFORM references no join ?{spec.left_var}->?{spec.right_var}"
            )
        col = (
            q.column_for(edge.left_star, edge.pred)
            if spec.side == "l"
            else f"{spec.right_var}_ID"
        )
        chains.setdefault(col, []).extend(spec.functions)
    return chains


def _star_subquery(
    q: ParsedQuery,
    plan: QueryPlan,
    star_name: str,
    sources: list[EntityMapping],
    views: _Views,
    chains: dict[str, list[str]],
) -> str:
    """Scan + project/alias + UNION ALL of the relevant sources for one
    star, then its pre-join filters (SparkExecutor.scala:26-185)."""
    star = q.stars[star_name]
    if not sources:
        raise ExecutionError(
            f"no relevant source for star ?{star_name} "
            f"(predicates {sorted(star.predicates)}, class {star.class_iri})"
        )
    selects = []
    for m_idx, m in enumerate(sources):
        view = views.bind(
            f"src_{m.name.lower()}_{m_idx}" if len(sources) > 1 else f"src_{m.name.lower()}",
            m,
        )
        cols = []
        row_filters: list[str] = []
        for out_col, attr, pred in [(f"{star_name}_ID", m.id_attr, None)] + [
            (q.column_for(star_name, p), m.predicates[p], p)
            for p in sorted(plan.needed_preds[star_name])
        ]:
            # the mapping-declared (RML FnO) chain applies at the scan,
            # then the query's TRANSFORM chain; each skp drops this
            # source's rows on the value at its own position in the chain
            expr, flts = transform_chain_sql(_q(attr), m.transforms.get(pred, ()))
            expr, more = transform_chain_sql(expr, chains.get(out_col, ()))
            row_filters += flts + more
            cols.append(f"{expr} AS {_q(out_col)}")
        sel = f"SELECT {', '.join(cols)} FROM {_q(view)}"
        if row_filters:
            sel += " WHERE " + " AND ".join(row_filters)
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
            # Resolve via (star, pred), NOT column_for_var: a join
            # variable (object of this star AND subject of another) must
            # filter this star's join-attribute column, not the other
            # star's ID column (SparkExecutor.scala:144-185; BSBM Q7/Q8)
            conds.append(_filter_sql(_q(q.column_for(*q.var_to_star_pred[f.var])), f))
    for ef in q.expr_filters:
        if ef.star == star_name:
            # OPTIONAL-internal expression filter: pre-join on this star
            conds.append(to_sql(ef.expr, _star_sql_resolver(q, star_name)))
    # wrap once so every condition references output aliases (Catalyst
    # pushes the predicates back into the scan regardless)
    sub = f"SELECT * FROM (\n{body}\n) AS s_{star_name}"
    if conds:
        sub += " WHERE " + " AND ".join(conds)
    return f"({sub})"


def _explode_triples_sql(triples: list[tuple[str, str, str]], source: str) -> str:
    """(subject, predicate, object) rows from ONE pass over ``source``:
    explode an ARRAY of named_structs, one per triple, and drop triples
    with a NULL term.  A UNION ALL of per-triple selects would read
    ``source`` once per triple (Spark inlines CTEs and does not share
    work across union branches)."""
    structs = ",\n  ".join(
        f"named_struct('subject', {s}, 'predicate', {p}, 'object', {o})"
        for s, p, o in triples
    )
    return (
        f"SELECT t.`subject`, t.`predicate`, t.`object` FROM (\n"
        f"SELECT explode(array(\n  {structs}\n)) AS t FROM {source}\n"
        f") AS graph\n"
        f"WHERE t.`subject` IS NOT NULL AND t.`predicate` IS NOT NULL "
        f"AND t.`object` IS NOT NULL"
    )


def _apply_construct_sql(q: ParsedQuery, sql: str) -> str:
    """CONSTRUCT materialization: one (subject, predicate, object)
    string row per template triple per solution, the WHERE executing
    ONCE.  Solutions with an unbound template variable emit no triple
    for that pattern (SPARQL 1.1 §16.2), and the result deduplicates —
    an RDF graph is a set."""
    if not q.construct_template:
        return sql
    triples = [
        tuple(
            f"CAST({_q(val)} AS STRING)" if kind == "var" else _lit(str(val), True)
            for kind, val in trip
        )
        for trip in q.construct_template
    ]
    graph = _explode_triples_sql(triples, f"({sql}) AS sol")
    return f"SELECT DISTINCT * FROM (\n{graph}\n) AS g"


def _apply_describe_sql(
    plan: QueryPlan, index: MappingIndex, views: _Views, sql: str,
) -> str:
    """DESCRIBE materialization: solution query -> CTE `sol`; each
    relevant source of a described variable is read ONCE, restricted to
    the solution ids, and ALL its mapped predicates (plus the rdf:type
    triple) explode into (subject, predicate, object) strings.  Mapping
    transforms apply exactly as in the star scan: a skp drops the
    source row."""
    q = plan.query
    if not q.describe_vars:
        return sql
    parts: list[str] = []
    for v in q.describe_vars:
        for mi, m in enumerate(index.relevant_sources(q.stars[v])):
            view = views.bind(f"dsc_{m.name.lower()}_{mi}", m)
            subj = f"CAST({_q(m.id_attr)} AS STRING)"
            conds = [f"{_q(m.id_attr)} IN (SELECT {_q(v)} FROM sol)"]
            triples = []
            for iri, attr in sorted(m.predicates.items()):
                expr, flts = transform_chain_sql(_q(attr), m.transforms.get(iri, ()))
                conds += flts
                triples.append((subj, _lit(iri, True), f"CAST({expr} AS STRING)"))
            if m.class_iri:
                triples.append((subj, _lit(RDF_TYPE, True), _lit(m.class_iri, True)))
            source = f"{_q(view)} WHERE {' AND '.join(conds)}"
            parts.append(_explode_triples_sql(triples, source))
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
        if not q.is_ask:
            if q.aggregations or q.group_by or q.having:
                raise ExecutionError(
                    "UNION combined with aggregation is not supported"
                )
            if not {k.var for k in q.order_keys} <= set(q.select_vars):
                raise ExecutionError("UNION ORDER BY keys must be projected")
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
        sql = _project_sql(q, core)
    if q.limit is not None:
        sql += f" LIMIT {q.limit}"
    if q.offset is not None:
        sql += f" OFFSET {q.offset}"
    sql = _apply_construct_sql(q, sql)
    sql = _apply_describe_sql(plan, index, views, sql)
    return CompiledSql(sql, views)


def _project_sql(q: ParsedQuery, core: str) -> str:
    """SELECT [DISTINCT] ... ORDER BY for a query without aggregation."""
    sel = ", ".join(f"{_q(q.column_for_var(v))} AS {_q(v)}" for v in q.select_vars)

    def keys(name) -> str:
        return ", ".join(
            f"{_q(name(k.var))}{' DESC' if k.descending else ''}"
            for k in q.order_keys
        )

    if q.distinct and not {k.var for k in q.order_keys} <= set(q.select_vars):
        # DISTINCT + ORDER BY on unprojected keys.  SPARQL algebra is
        # OrderBy -> Project -> Distinct with Distinct preserving the
        # order, so each distinct row takes the position of its FIRST
        # occurrence in the ordered sequence.  Sorting before a SELECT
        # DISTINCT loses that (the distinct re-shuffles).  Instead keep
        # each projected group's minimal row under the full comparator
        # (a window hash-partitioned by the projected columns, so no
        # single-partition window), then sort once: ordering groups by
        # their minimal row is first-occurrence order for any asc/desc
        # mix, at the cost class of the ORDER BY's own global sort.
        group = ", ".join(_q(q.column_for_var(v)) for v in q.select_vars)
        okeys = ", ".join(
            f"{_q(q.column_for_var(k.var))} AS {_q(f'__ok{i}')}"
            for i, k in enumerate(q.order_keys)
        )
        pos = {k.var: f"__ok{i}" for i, k in enumerate(q.order_keys)}
        return (
            f"SELECT {', '.join(_q(v) for v in q.select_vars)} FROM ("
            f"SELECT {sel}, {okeys}, ROW_NUMBER() OVER (PARTITION BY {group} "
            f"ORDER BY {keys(q.column_for_var)}) AS `__sq_rn` FROM {core}"
            f") AS first_seen WHERE `__sq_rn` = 1 ORDER BY {keys(pos.get)}"
        )
    sql = f"SELECT {'DISTINCT ' if q.distinct else ''}{sel} FROM {core}"
    if q.order_keys:
        # projected sort keys use the output alias (required under
        # DISTINCT; internal names are gone after projection)
        sql += " ORDER BY " + keys(
            lambda v: v if v in q.select_vars else q.column_for_var(v)
        )
    return sql


def _apply_binds_sql(q: ParsedQuery, core: str) -> str:
    """Post-join layer: BIND computed columns as nested projections
    (one per bind, so later binds may reference earlier aliases), then
    the filters that can only run here (bind-alias filters, expression
    FILTERs and var-to-var comparisons)."""
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
    """FROM clause: star subqueries chained with JOIN ... ON
    (SparkExecutor.scala:247-359), OPTIONAL blocks attached as JOIN
    UNITS.

    SPARQL left-join semantics are per block: a block containing
    several stars either matches wholly or binds nothing.  Each
    model.OptionalBlock therefore inner-joins its own stars inside one
    subquery (applying its block-scoped var/expression filters), LEFT
    joins its child blocks inside it, and the assembled unit LEFT joins
    the enclosing scope on ALL of its connecting edges at once.  A flat
    per-star left-join chain would partially bind a failed multi-star
    block."""
    q = plan.query
    if not q.stars:
        raise ExecutionError(
            "the WHERE group must contain at least one triple pattern "
            "(a bare { SELECT ... } wrapper adds nothing — run the inner "
            "query directly)"
        )
    chains = _transform_chains(q, plan)
    subs = {
        name: _star_subquery(
            q, plan, name, index.relevant_sources(star), views, chains
        )
        for name, star in q.stars.items()
    }
    if not plan.join_edges:
        if len(subs) > 1:
            raise ExecutionError(
                "disconnected join graph: stars "
                f"{sorted(subs)} share no join variable (cartesian "
                "products are not part of the supported fragment)"
            )
        (only,) = subs
        return f"{subs[only]} AS {_q(only)}"

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
            # the LATER-declared block owns the edge: its condition may
            # reference anything attached before it (its parent scope,
            # the mandatory pattern, or an earlier sibling block)
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
                extra.append(econd(e))  # cycle edge
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
                    raise ExecutionError(
                        "disconnected join graph: stars "
                        f"{sorted(set(names) - seen)} unreachable"
                    )
                continue
            stall = 0
        if set(names) - seen:
            raise ExecutionError(
                f"stars not joined (cartesian not supported): "
                f"{sorted(set(names) - seen)}"
            )
        return sql, extra

    def unit_stars(b) -> set:
        """Stars a block's unit binds: its own and its descendants'."""
        out = set(b.subjects)
        for c in blocks:
            if c.parent == b.idx:
                out |= unit_stars(c)
        return out

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
        scope = set(b.subjects)
        for c in blocks:
            if c.parent == b.idx:
                core = (
                    f"(SELECT * FROM {core}"
                    f"\nLEFT JOIN {render_unit(c)} ON {attach_cond(c, scope)}"
                    f") AS un{c.idx}"
                )
                scope |= unit_stars(c)
        return core

    def attach_cond(b, scope: set) -> str:
        """ON condition of block ``b``'s unit; ``scope`` holds the stars
        whose columns the enclosing side can see."""
        if not connecting[b.idx]:
            raise ExecutionError(
                "OPTIONAL block "
                f"{{{', '.join('?' + s for s in sorted(b.subjects))}}} "
                "shares no join variable with its enclosing pattern "
                "(cartesian products are not part of the supported fragment)"
            )
        conds = []
        for e in connecting[b.idx]:
            other = e.right_star if e.left_star in b.subjects else e.left_star
            if other not in scope:
                raise ExecutionError(
                    f"OPTIONAL block star ?{other} is referenced from a "
                    "scope that cannot see it (not a well-designed "
                    "pattern)"
                )
            conds.append(econd(e))
        # SPARQL LeftJoin(Ω1, Ω2, expr): block FILTERs referencing the
        # enclosing scope join the ON condition — they decide whether
        # the block matches, never whether the enclosing row survives
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
        scope = set(mandatory)
    else:
        # fully-optional pattern: the first unit is the base scope
        base, tops = tops[0], tops[1:]
        sql, extra = render_unit(base), []
        hint_names = []
        scope = unit_stars(base)

    for b in tops:
        sql += f"\nLEFT JOIN {render_unit(b)} ON {attach_cond(b, scope)}"
        scope |= unit_stars(b)

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
