"""Executor: ParsedQuery + MappingIndex -> ONE lazy DataFrame plan.

The reference's Spark backend assembles the same pipeline imperatively
(SparkExecutor.scala: per-star build :26-194, join :247-359, groupBy
:516-539, orderBy :506-514, project :491-496, limit :541) and then runs
TWO actions (take(20) + count(), :543-556), re-executing the plan.  We
build the identical logical pipeline but return the still-lazy frame:
Catalyst sees the whole query — like the reference's Presto path which
compiles everything into one SQL string (PrestoExecutor.scala:404-518).

Order of operations and the deviations that fix reference bugs:
- per-star: scan -> project/alias (explicit column pruning) -> join-col
  transforms -> filters -> union of relevant sources;
- joins: pairwise chained equi-joins with the reference's pending-queue
  algorithm so any connected join-graph order works;
- post-join: groupBy/agg -> [distinct -> orderBy] -> project -> limit.
  Multi-key ORDER BY is one ``orderBy(*keys)`` call (the reference's
  per-key loop is last-key-wins, Run.scala:294-299).  DISTINCT runs
  *before* ORDER BY when all sort keys are projected, because a
  post-sort distinct re-shuffles and destroys the order the LIMIT
  depends on (reference does distinct after sort, Run.scala:303).

Scale notes: every star is pruned to its needed columns at the scan
(minimal parquet ReadSchema) and filtered before any join (source-level
pushdown); mappings flagged ``broadcast`` get an explicit broadcast
hint, everything else is left to Catalyst/AQE (broadcast vs SMJ, skew
splitting, partition coalescing).
"""

from __future__ import annotations

from collections import deque

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from sparkall_spark.functions.transforms import apply_transform_chain
from sparkall_spark.mappings import EntityMapping, MappingIndex
from sparkall_spark.plans.model import Filter, ParsedQuery, Star
from sparkall_spark.plans.planner import QueryPlan, plan_query
from sparkall_spark.sources import SourceCache


class ExecutionError(RuntimeError):
    pass


def _filter_condition(col: Column, f: Filter, value: Column | None = None) -> Column:
    if f.op == "in":  # VALUES ?v { ... }
        return col.isin(list(f.value))
    if f.op == "in_null_ok":
        # outer VALUES on an optional var: SPARQL compatibility keeps
        # rows where the var is UNBOUND (null), drops bound mismatches
        return col.isNull() | col.isin(list(f.value))
    value = F.lit(f.value) if value is None else value
    if f.op == "=":
        return col == value
    if f.op == "!=":
        return col != value
    if f.op == "<":
        return col < value
    if f.op == "<=":
        return col <= value
    if f.op == ">":
        return col > value
    if f.op == ">=":
        return col >= value
    if f.op == "regex":
        # reference semantics: SQL LIKE wildcards (SparkExecutor.scala:180-182)
        return col.like(str(f.value))
    if f.op == "ilike":  # regex(?v, pat, "i") — case-insensitive LIKE
        return col.ilike(str(f.value))
    if f.op == "rlike":
        return col.rlike(str(f.value))
    raise ExecutionError(f"unknown filter op {f.op!r}")


def build_star_df(
    sources: SourceCache,
    q: ParsedQuery,
    star: Star,
    needed_preds: set[str],
    project_subject: bool,
    mappings: list[EntityMapping],
) -> DataFrame:
    """Scan + project/alias + union for one star (SparkExecutor.scala:26-117)."""
    if not mappings:
        raise ExecutionError(
            f"no relevant source for star ?{star.subject} "
            f"(predicates {sorted(star.predicates)}, class {star.class_iri})"
        )
    frames: list[DataFrame] = []
    for m in mappings:
        raw = sources.load(m)
        row_filters: list[Column] = []
        cols = [F.col(m.id_attr).alias(f"{star.subject}_ID")]
        for pred in sorted(needed_preds):
            attr = m.predicates[pred]
            col = F.col(attr)
            if pred in m.transforms:
                # mapping-declared (RML FnO) transformation: applied at
                # scan time so it composes with pushdown the same way
                # the inline TRANSFORM route does (Mapper.scala:183-221)
                col, flts = apply_transform_chain(col, m.transforms[pred])
                row_filters.extend(flts)
            cols.append(col.alias(q.column_for(star.subject, pred)))
        for flt in row_filters:
            raw = raw.filter(flt)
        df = raw.select(*cols)
        if m.broadcast:
            df = F.broadcast(df)
        frames.append(df)
    out = frames[0]
    for other in frames[1:]:
        out = out.unionByName(other, allowMissingColumns=True)
    return out


def _apply_star_filters(
    df: DataFrame, q: ParsedQuery, star_name: str
) -> DataFrame:
    """Pre-join filters for one star (SparkExecutor.scala:144-185)."""
    conds: list[Column] = []
    for f in q.filters:
        if f.value_is_var:
            continue  # var-to-var comparisons apply post-join
        if f.op == "in_null_ok":
            continue  # null-compatible outer VALUES: post-join only
        if f.var == star_name:
            conds.append(_filter_condition(F.col(f"{star_name}_ID"), f))
        elif f.var in q.var_to_star_pred and q.var_to_star_pred[f.var][0] == star_name:
            # Resolve via (star, pred), NOT column_for_var: a join variable
            # (object of this star AND subject of another) must filter this
            # star's join-attribute column (e.g. l_part_sa), not the other
            # star's ID column (reference filter apply:
            # SparkExecutor.scala:144-185; BSBM Q7/Q8 shape).
            col = F.col(q.column_for(*q.var_to_star_pred[f.var]))
            conds.append(_filter_condition(col, f))
    for ef in q.expr_filters:
        if ef.star == star_name:
            # OPTIONAL-internal expression filter: pre-join on this star
            # (== the left join's ON condition)
            from sparkall_spark.plans.exprs import to_column

            conds.append(to_column(ef.expr, _star_var_resolver(q, star_name)))
    for c in conds:
        df = df.filter(c)
    return df


def _star_var_resolver(q: ParsedQuery, star_name: str):
    """Resolve a variable to ITS column within one star's DataFrame —
    a join variable (object here, subject elsewhere) must resolve to
    this star's join-attribute column, not the other star's ID."""

    def resolve(v: str):
        if v == star_name:
            return F.col(f"{star_name}_ID")
        if v in q.var_to_star_pred and q.var_to_star_pred[v][0] == star_name:
            return F.col(q.column_for(*q.var_to_star_pred[v]))
        raise ExecutionError(
            f"variable ?{v} does not belong to star ?{star_name}"
        )

    return resolve


def _apply_transforms(
    star_dfs: dict[str, DataFrame], q: ParsedQuery, plan: QueryPlan
) -> None:
    """Join-column transformations (SparkExecutor.scala:127-141).

    side 'l': rewrite the left star's joining attribute column;
    side 'r': rewrite the right star's ID column.
    """
    for spec in q.transforms:
        if spec.side == "l":
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
            target_star, colname = spec.left_var, q.column_for(edge.left_star, edge.pred)
        else:
            target_star, colname = spec.right_var, f"{spec.right_var}_ID"
        df = star_dfs[target_star]
        new_col, row_filters = apply_transform_chain(F.col(colname), spec.functions)
        # row filters (skp) FIRST: their expression trees reference the
        # untransformed column by name, so they must resolve before
        # withColumn replaces it — filtering after would re-apply the
        # upstream chain to the already-transformed value (e.g.
        # toInt.scl(+1).skp(4) would compare (x+1)+1 <> 4)
        for flt in row_filters:
            df = df.filter(flt)
        df = df.withColumn(colname, new_col)
        star_dfs[target_star] = df


def _join_stars(
    star_dfs: dict[str, DataFrame], q: ParsedQuery, plan: QueryPlan
) -> DataFrame:
    """Chained pairwise equi-joins, pending-queue algorithm for the
    mandatory pattern (SparkExecutor.scala:247-359), with OPTIONAL
    blocks attached as JOIN UNITS.

    SPARQL left-join semantics are per block: a block containing
    several stars either matches wholly or binds nothing.  Each
    model.OptionalBlock therefore inner-joins its own stars first
    (applying its block-scoped var/expression filters), recursively
    LEFT-joins child blocks, and the assembled unit LEFT-joins the
    enclosing scope on ALL of its connecting edges at once.  A flat
    per-star left-join chain (the r3 design) would partially bind a
    failed multi-star block — 20/318 wrong rows on the sf0.001 probe
    that motivated this rewrite."""
    blocks = q.optional_blocks
    star_block = {s: b.idx for b in blocks for s in b.subjects}
    mandatory = [s for s in star_dfs if s not in star_block]

    if not plan.join_edges:
        if len(star_dfs) > 1:
            raise ExecutionError(
                "disconnected join graph: stars "
                f"{sorted(star_dfs)} share no join variable (cartesian "
                "products are not part of the supported fragment)"
            )
        (only,) = star_dfs.values()
        return only

    # ---- partition edges by scope --------------------------------
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

    def _econd(e) -> Column:
        return F.col(q.column_for(e.left_star, e.pred)) == F.col(
            f"{e.right_star}_ID"
        )

    def _inner_walk(names: list[str], edges: list) -> DataFrame:
        """Inner-join a set of stars with the pending-queue algorithm."""
        if len(names) == 1:
            return star_dfs[names[0]]
        pend = deque(edges)
        joined: DataFrame | None = None
        seen: set[str] = set()
        stall = 0
        while pend:
            e = pend.popleft()
            if joined is None:
                joined = star_dfs[e.left_star].join(
                    star_dfs[e.right_star], _econd(e), "inner"
                )
                seen = {e.left_star, e.right_star}
            elif e.left_star in seen and e.right_star in seen:
                joined = joined.filter(_econd(e))  # cycle edge
            elif e.left_star in seen:
                joined = joined.join(star_dfs[e.right_star], _econd(e), "inner")
                seen.add(e.right_star)
            elif e.right_star in seen:
                joined = joined.join(star_dfs[e.left_star], _econd(e), "inner")
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
        missing = set(names) - seen
        if missing:
            raise ExecutionError(
                f"stars not joined (cartesian not supported): {sorted(missing)}"
            )
        return joined

    from sparkall_spark.plans.exprs import to_column

    def _build_unit(b) -> DataFrame:
        df = _inner_walk(sorted(b.subjects), internal[b.idx])
        for f in b.var_filters:
            df = df.filter(
                _filter_condition(
                    F.col(q.column_for_var(f.var)),
                    f,
                    value=F.col(q.column_for_var(str(f.value))),
                )
            )
        for ef in b.expr_filters:
            df = df.filter(
                to_column(ef.expr, lambda v: F.col(q.column_for_var(v)))
            )
        for c in blocks:
            if c.parent == b.idx:
                df = _attach_unit(df, c, scope=b.subjects)
        return df

    def _attach_unit(scope_df: DataFrame, b, scope: frozenset) -> DataFrame:
        edges = connecting[b.idx]
        if not edges:
            raise ExecutionError(
                f"OPTIONAL block {{{', '.join('?' + s for s in sorted(b.subjects))}}} "
                "shares no join variable with its enclosing pattern "
                "(cartesian products are not part of the supported fragment)"
            )
        unit_df = _build_unit(b)
        cond = None
        for e in edges:
            other = (
                e.right_star if e.left_star in b.subjects else e.left_star
            )
            if other not in scope:
                raise ExecutionError(
                    f"OPTIONAL block star ?{other} is referenced from a "
                    "scope that cannot see it (not a well-designed "
                    "pattern)"
                )
            c = _econd(e)
            cond = c if cond is None else cond & c
        # SPARQL LeftJoin(Ω1, Ω2, expr): block FILTERs referencing the
        # enclosing scope join the ON condition — they decide whether
        # the block matches, never whether the enclosing row survives
        for f in b.attach_var_filters:
            fc = _filter_condition(
                F.col(q.column_for_var(f.var)),
                f,
                value=(
                    F.col(q.column_for_var(str(f.value)))
                    if f.value_is_var
                    else None
                ),
            )
            cond = cond & fc
        for ef in b.attach_expr_filters:
            cond = cond & to_column(
                ef.expr, lambda v: F.col(q.column_for_var(v))
            )
        return scope_df.join(unit_df, cond, "left")

    # ---- mandatory scope -----------------------------------------
    if mandatory:
        result = _inner_walk(sorted(mandatory), mand_edges)
        attached: set[str] = set(mandatory)
    else:
        # fully-optional pattern: the first unit is the base scope
        top = [b for b in blocks if b.parent is None]
        base, rest = top[0], top[1:]
        result = _build_unit(base)
        attached = set(base.subjects)
        for b in rest:
            result = _attach_unit(result, b, scope=frozenset(attached))
            attached |= set(b.subjects)
        return result

    for b in blocks:
        if b.parent is None:
            result = _attach_unit(result, b, scope=frozenset(attached))
            attached |= {
                s
                for c in blocks
                if c.idx == b.idx or _ancestor(blocks, c, b.idx)
                for s in c.subjects
            }
    return result


def _ancestor(blocks, c, root_idx: int) -> bool:
    """True when block ``c`` has ``root_idx`` in its parent chain."""
    p = c.parent
    while p is not None:
        if p == root_idx:
            return True
        p = blocks[p].parent
    return False


def _apply_minus(
    sources: SourceCache, df: DataFrame, q: ParsedQuery, index: MappingIndex
) -> DataFrame:
    """SPARQL MINUS / FILTER [NOT] EXISTS: anti/semi-join on shared vars.

    Null shared columns don't match (SQL equality), which is exactly
    SPARQL's compatibility rule — unbound vars make solutions
    incompatible, so those rows survive a MINUS.  Disjoint domains
    remove nothing (guarded).
    """
    for mg, how in [(g, "left_anti") for g in q.minus_groups] + [
        (g, "left_semi") for g in q.exists_groups
    ]:
        main_vars = set(q.var_to_star_pred) | set(q.stars)
        mg_vars = set(mg.var_to_star_pred) | set(mg.stars)
        shared = sorted(main_vars & mg_vars)
        if not shared:
            continue
        mg.select_vars = shared  # planner must keep these columns
        mplan = plan_query(mg)
        mstar_dfs = {
            name: _apply_star_filters(
                build_star_df(
                    sources,
                    mg,
                    star,
                    mplan.needed_preds[name],
                    False,
                    index.relevant_sources(star),
                ),
                mg,
                name,
            )
            for name, star in mg.stars.items()
        }
        mdf = _apply_binds(_join_stars(mstar_dfs, mg, mplan), mg)
        mdf = mdf.select(
            *[F.col(mg.column_for_var(v)).alias(f"__m_{v}") for v in shared]
        ).distinct()
        cond = None
        for v in shared:
            c = F.col(q.column_for_var(v)) == F.col(f"__m_{v}")
            cond = c if cond is None else (cond & c)
        df = df.join(mdf, cond, how)
    return df


_AGG_FNS = {
    "sum": F.sum,
    "min": F.min,
    "max": F.max,
    "avg": F.avg,
    "count": F.count,
}


def _attach_subqueries(
    sources: SourceCache, df: DataFrame, q: ParsedQuery, index: MappingIndex
) -> DataFrame:
    """Join each { SELECT ... } subquery's result on its shared
    projected variables (SPARQL 1.1 §12: a subquery evaluates
    independently, then joins the enclosing group).  Subquery-only
    output vars surface under their plain names."""
    for sub in q.subqueries:
        sub_df = execute_plan(sources, plan_query(sub), index)
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
        cond = None
        for v in shared:
            c = df[q.column_for_var(v)] == sub_df[v]
            cond = c if cond is None else cond & c
        df = df.join(sub_df, cond, "inner")
        # the outer resolution of a shared var stays the outer column;
        # drop the subquery's duplicate to keep names unambiguous
        for v in shared:
            df = df.drop(sub_df[v])
    return df


def _apply_values(
    spark: SparkSession, df: DataFrame, q: ParsedQuery
) -> DataFrame:
    """Multi-variable VALUES: inner-join the inline solution table on
    its variables.  Inline data is tiny by definition — broadcast, so
    at scale this is a map-side lookup, never a shuffle.  UNDEF rows
    (SPARQL 1.1 §10.2.2) carry None: the per-variable condition becomes
    null-or-equal, and an all-UNDEF column drops out entirely."""
    for vars_, rows in q.values_tables:
        # all-UNDEF columns constrain nothing: prune them (also keeps
        # createDataFrame away from untyped all-null columns)
        keep = [
            i for i, v in enumerate(vars_)
            if any(row[i] is not None for row in rows)
        ]
        if not keep:
            continue
        kvars = [vars_[i] for i in keep]
        krows = [tuple(row[i] for i in keep) for row in rows]
        vdf = spark.createDataFrame(krows, schema=list(kvars))
        has_undef = any(v is None for row in krows for v in row)
        cond = None
        for v in kvars:
            c = df[q.column_for_var(v)] == vdf[v]
            if has_undef:
                c = vdf[v].isNull() | c
            cond = c if cond is None else cond & c
        df = df.join(F.broadcast(vdf), cond, "inner")
        for v in kvars:
            df = df.drop(vdf[v])
    return df


def _apply_binds(df: DataFrame, q: ParsedQuery) -> DataFrame:
    """Post-join stage: BIND computed columns (declaration order), then
    the filters that can only run here — filters over bind aliases,
    var-to-var comparisons, and general expression FILTERs (both sides
    bound only after the joins; Catalyst still pushes the resulting
    predicates into the scans)."""
    from sparkall_spark.plans.exprs import to_column

    for b in q.binds:
        df = df.withColumn(
            q.column_for_var(b.alias),
            to_column(b.expr, lambda v: F.col(q.column_for_var(v))),
        )
    for ef in q.expr_filters:
        if ef.star is not None:
            continue  # OPTIONAL-internal: already applied pre-join
        df = df.filter(
            to_column(ef.expr, lambda v: F.col(q.column_for_var(v)))
        )
    aliases = {b.alias for b in q.binds} | {
        v
        for v in q.subquery_vars()
        if v not in q.stars and v not in q.var_to_star_pred
    }
    for f in q.filters:
        if f.value_is_var:
            df = df.filter(
                _filter_condition(
                    F.col(q.column_for_var(f.var)),
                    f,
                    value=F.col(q.column_for_var(str(f.value))),
                )
            )
        elif f.op == "in_null_ok" or f.var in aliases:
            df = df.filter(_filter_condition(F.col(q.column_for_var(f.var)), f))
    return df


def _branch_core(
    sources: SourceCache, plan: QueryPlan, index: MappingIndex
) -> DataFrame:
    """One UNION branch: joins + filters, projected to the select vars
    (unbound vars become nulls, SPARQL UNION semantics)."""
    q = plan.query
    star_dfs = {
        name: _apply_star_filters(
            build_star_df(
                sources,
                q,
                star,
                plan.needed_preds[name],
                plan.project_subject.get(name, False),
                index.relevant_sources(star),
            ),
            q,
            name,
        )
        for name, star in q.stars.items()
    }
    _apply_transforms(star_dfs, q, plan)
    df = _attach_subqueries(sources, _join_stars(star_dfs, q, plan), q, index)
    df = _apply_values(sources.spark, df, q)
    df = _apply_binds(df, q)
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
            cols.append(F.col(q.column_for_var(v)).alias(v))
        else:
            cols.append(F.lit(None).alias(v))
    return df.select(*cols)


def _apply_construct(df: DataFrame, q: ParsedQuery) -> DataFrame:
    """CONSTRUCT materialization: one (subject, predicate, object)
    string row per template triple per solution.  Solutions with an
    unbound template variable emit no triple for that pattern (SPARQL
    1.1 §16.2), and the result deduplicates — an RDF graph is a set.

    Shape matters at scale: k template triples explode from an ARRAY of
    structs in a single projection, so the WHERE subtree executes ONCE
    — a union of k projections would re-run the solution plan k times
    (Spark does not common-subexpression-eliminate across union
    branches)."""
    structs: list[Column] = []
    for trip in q.construct_template:
        fields: list[Column] = []
        for term, out_name in zip(trip, ("subject", "predicate", "object")):
            kind, val = term
            c = (
                F.col(val).cast("string")
                if kind == "var"
                else F.lit(str(val))  # iri / lit: lexical form
            )
            fields.append(c.alias(out_name))
        structs.append(F.struct(*fields))
    out = df.select(F.explode(F.array(*structs)).alias("t"))
    return (
        out.filter(
            F.col("t.subject").isNotNull()
            & F.col("t.predicate").isNotNull()
            & F.col("t.object").isNotNull()
        )
        .select("t.subject", "t.predicate", "t.object")
        .distinct()
    )


def _apply_describe(
    sources: SourceCache, sol: DataFrame, q: ParsedQuery, index: MappingIndex
) -> DataFrame:
    """DESCRIBE materialization: for each described variable, semi-join
    every relevant source on the solution ids and unpivot ALL mapped
    predicates (plus the rdf:type triple) into (subject, predicate,
    object) strings.  ONE scan per source via DataFrame.unpivot — not
    one scan per predicate; mapping-declared transforms apply exactly
    as in build_star_df."""
    from sparkall_spark.plans.parser import RDF_TYPE

    parts: list[DataFrame] = []
    for v in q.describe_vars:
        ids = sol.select(F.col(v).alias("__desc_id")).distinct()
        star = q.stars[v]
        for m in index.relevant_sources(star):
            raw = sources.load(m)
            sel = raw.join(
                ids, raw[m.id_attr] == ids["__desc_id"], "leftsemi"
            )
            subj = F.col(m.id_attr).cast("string").alias("subject")
            preds = sorted(m.predicates.items())  # (iri, attr), stable
            safe_cols = []
            for i, (iri, attr) in enumerate(preds):
                col = F.col(attr)
                if iri in m.transforms:
                    col, flts = apply_transform_chain(col, m.transforms[iri])
                    for flt in flts:
                        sel = sel.filter(flt)
                safe_cols.append(col.cast("string").alias(f"__p{i}"))
            wide = sel.select(subj, *safe_cols)
            trip = wide.unpivot(
                ["subject"],
                [f"__p{i}" for i in range(len(preds))],
                "predicate",
                "object",
            ).filter(F.col("object").isNotNull())
            pred_iri: Column = F.col("predicate")
            for i, (iri, _attr) in reversed(list(enumerate(preds))):
                pred_iri = F.when(
                    F.col("predicate") == f"__p{i}", F.lit(iri)
                ).otherwise(pred_iri)
            parts.append(
                trip.select("subject", pred_iri.alias("predicate"), "object")
            )
            if m.class_iri:
                parts.append(
                    sel.select(
                        subj,
                        F.lit(RDF_TYPE).alias("predicate"),
                        F.lit(m.class_iri).alias("object"),
                    )
                )
    out = parts[0]
    for other in parts[1:]:
        out = out.unionByName(other)
    return out.distinct()


def execute_plan(
    sources: SourceCache, plan: QueryPlan, index: MappingIndex
) -> DataFrame:
    df = _execute_solutions(sources, plan, index)
    if plan.query.construct_template:
        df = _apply_construct(df, plan.query)
    if plan.query.describe_vars:
        df = _apply_describe(sources, df, plan.query, index)
    return df


def _execute_solutions(
    sources: SourceCache, plan: QueryPlan, index: MappingIndex
) -> DataFrame:
    q = plan.query

    if q.union_branches:
        # SPARQL UNION (extension): union branch results, then apply the
        # shared solution modifiers once
        if q.is_ask:
            # ASK over UNION: true iff ANY branch has a solution.  Each
            # branch probes at most one row (limit(1) pushes the early
            # stop into the scan), so the union is <= n_branches rows.
            dfs = [
                _branch_core(sources, plan_query(b), index)
                .select(F.lit(1).alias("__one"))
                .limit(1)
                for b in [q] + q.union_branches
            ]
            df = dfs[0]
            for other in dfs[1:]:
                df = df.unionByName(other)
            return df.limit(1).agg((F.count(F.lit(1)) > 0).alias("ask"))
        if q.aggregations or q.group_by:
            raise ExecutionError("UNION combined with aggregation is not supported")
        order_vars = {k.var for k in q.order_keys}
        if not order_vars <= set(q.select_vars):
            raise ExecutionError("UNION ORDER BY keys must be projected")
        dfs = [
            _branch_core(sources, plan_query(b), index)
            for b in [q] + q.union_branches
        ]
        df = dfs[0]
        for other in dfs[1:]:
            df = df.unionByName(other, allowMissingColumns=True)
        if q.distinct:
            df = df.distinct()
        if q.order_keys:
            df = df.orderBy(
                *[
                    (F.col(k.var).desc() if k.descending else F.col(k.var).asc())
                    for k in q.order_keys
                ]
            )
        if q.offset is not None:
            df = df.offset(q.offset)
        if q.limit is not None:
            df = df.limit(q.limit)
        return df

    if not q.stars:
        raise ExecutionError(
            "the WHERE group must contain at least one triple pattern "
            "(a bare { SELECT ... } wrapper adds nothing — run the inner "
            "query directly)"
        )

    star_dfs: dict[str, DataFrame] = {}
    for name, star in q.stars.items():
        df = build_star_df(
            sources,
            q,
            star,
            plan.needed_preds[name],
            plan.project_subject.get(name, False),
            index.relevant_sources(star),
        )
        star_dfs[name] = _apply_star_filters(df, q, name)
    _apply_transforms(star_dfs, q, plan)

    df = _join_stars(star_dfs, q, plan)
    df = _attach_subqueries(sources, df, q, index)
    df = _apply_values(sources.spark, df, q)
    df = _apply_minus(sources, df, q, index)
    df = _apply_binds(df, q)

    if q.is_ask:
        # one boolean row; limit(1) keeps the existence probe cheap —
        # the scan stops as soon as any solution is found
        return df.limit(1).agg((F.count(F.lit(1)) > 0).alias("ask"))

    if q.aggregations or q.group_by:
        group_cols = [F.col(q.column_for_var(v)).alias(v) for v in q.group_by]
        aggs = []
        for a in q.aggregations:
            if a.var == "*":
                expr = F.count(F.lit(1))
            else:
                col = F.col(q.column_for_var(a.var))
                if a.fn == "group_concat":
                    # sorted so the result is deterministic (SPARQL puts
                    # no order on GROUP_CONCAT; we pick the sorted one)
                    vals = F.collect_set(col.cast("string")) if a.distinct \
                        else F.collect_list(col.cast("string"))
                    expr = F.concat_ws(
                        a.separator if a.separator is not None else " ",
                        F.sort_array(vals),
                    )
                elif a.fn == "sample":
                    expr = F.min(col)  # deterministic any-value
                elif a.distinct:
                    expr = F.countDistinct(col) if a.fn == "count" else _AGG_FNS[a.fn](col)
                else:
                    expr = _AGG_FNS[a.fn](col)
            aggs.append(expr.alias(a.alias))
        if aggs:
            df = df.groupBy(*group_cols).agg(*aggs)
        else:
            # GROUP BY with no aggregates == DISTINCT over the group keys
            df = df.select(*group_cols).distinct()
        # expressions over aggregates compute the declared aliases from
        # the internal __aggN columns (post-agg, pre-HAVING so HAVING
        # may reference them)
        if q.post_agg_exprs:
            from sparkall_spark.plans.exprs import to_column

            for pe in q.post_agg_exprs:
                df = df.withColumn(
                    pe.alias, to_column(pe.expr, lambda v: F.col(v))
                )
        for h in q.having:
            df = df.filter(_filter_condition(F.col(h.var), h))
        out_cols = (
            [v for v in q.select_vars if v in q.group_by]
            + [
                a.alias
                for a in q.aggregations
                if not a.alias.startswith("__agg")
            ]
            + [pe.alias for pe in q.post_agg_exprs]
        )
        order_resolver = {
            **{v: v for v in q.group_by},
            **{a.alias: a.alias for a in q.aggregations},
            **{pe.alias: pe.alias for pe in q.post_agg_exprs},
        }
    else:
        out_cols = list(q.select_vars)
        order_resolver = {v: q.column_for_var(v) for v in
                          set(q.select_vars) | {k.var for k in q.order_keys}}

    def sort_keys() -> list[Column]:
        keys = []
        for k in q.order_keys:
            col = F.col(order_resolver[k.var])
            keys.append(col.desc() if k.descending else col.asc())
        return keys

    if q.aggregations or q.group_by:
        # columns already renamed by groupBy aliases
        projected = df.select(*out_cols)
        if q.distinct:
            projected = projected.distinct()
        if q.order_keys:
            projected = projected.orderBy(*sort_keys())
        df = projected
    else:
        rename = [F.col(q.column_for_var(v)).alias(v) for v in out_cols]
        order_vars = {k.var for k in q.order_keys}
        if order_vars <= set(out_cols):
            # project (+distinct) first, then sort on the projected names
            df = df.select(*rename)
            if q.distinct:
                df = df.distinct()
            if q.order_keys:
                df = df.orderBy(
                    *[
                        (F.col(k.var).desc() if k.descending else F.col(k.var).asc())
                        for k in q.order_keys
                    ]
                )
        elif q.distinct and q.order_keys:
            # DISTINCT + ORDER BY on unprojected keys.  SPARQL algebra is
            # OrderBy -> Project -> Distinct with Distinct preserving the
            # order, so each distinct row takes the position of its FIRST
            # occurrence in the ordered sequence.  A plain
            # sort->project->distinct loses that: the distinct re-shuffle
            # destroys the order a following LIMIT depends on.  Instead,
            # pick each group's minimal element under the full comparator
            # via a window hash-partitioned by the projected columns
            # (parallel — no single-partition window), then ONE global
            # sort; ordering groups by their minimal element reproduces
            # first-occurrence order for any asc/desc mix.  Same cost
            # class as the ORDER BY's own global sort.
            from pyspark.sql.window import Window

            group_cols = [q.column_for_var(v) for v in out_cols]
            w = Window.partitionBy(*group_cols).orderBy(*sort_keys())
            df = (
                df.withColumn("__sq_rn", F.row_number().over(w))
                .filter(F.col("__sq_rn") == 1)
                .orderBy(*sort_keys())
                .select(*rename)
            )
        else:
            if q.order_keys:
                df = df.orderBy(*sort_keys())
            df = df.select(*rename)
            if q.distinct:
                df = df.distinct()

    if q.offset is not None:
        df = df.offset(q.offset)
    if q.limit is not None:
        df = df.limit(q.limit)
    return df
