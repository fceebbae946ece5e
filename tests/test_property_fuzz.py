"""Property-based fuzzing: random queries from the supported grammar are
generated as (SPARQL, oracle-SQL) pairs from one spec and must agree.

Uses hypothesis with a bounded example count so the suite stays fast;
the generator covers filter ops x typed values x distinct x multi-key
order x limit over the part/customer stars.
"""

import math

from hypothesis import HealthCheck, given, settings, strategies as st

from tests.conftest import assert_matches_oracle

import pytest

from sparkall_spark.engine import Engine
from sparkall_spark.fixtures import PREFIX_BLOCK, tpch_mappings

PART_PREDS = {
    "name": ("p_name", "str"),
    "brand": ("p_brand", "str"),
    "type": ("p_type", "str"),
    "size": ("p_size", "num"),
    "retailprice": ("p_retailprice", "num"),
}

NUM_OPS = ["=", "!=", "<", "<=", ">", ">="]


@pytest.fixture(scope="module")
def engine(spark, sf_dir):
    return Engine(spark, tpch_mappings(sf_dir))


filter_st = st.sampled_from(
    [
        ("size", op, v)
        for op in NUM_OPS
        for v in (1, 25, 50)
    ]
    + [
        ("retailprice", op, v)
        for op in ["<", ">", "<=", ">="]
        for v in (900.0, 1500.5)
    ]
    + [
        ("brand", op, f"Brand#{i}")
        for op in ["=", "!="]
        for i in (1, 3)
    ]
    # r4: infix [NOT] IN lists and STRBEFORE/STRAFTER predicates
    + [
        ("brand", "in", ("Brand#1", "Brand#3")),
        ("brand", "not in", ("Brand#2",)),
        ("name", "strbefore=", "large"),
        ("name", "strafter=", "widget"),
    ]
)


def _strcut_sql(col: str, which: str) -> str:
    pos = f"position(' ' IN {col})"
    inner = (
        f"substring({col}, 1, {pos} - 1)"
        if which == "strbefore"
        else f"substring({col}, {pos} + 1)"
    )
    return f"CASE WHEN {pos} > 0 THEN {inner} ELSE '' END"

query_st = st.fixed_dictionaries(
    {
        "select": st.sets(
            st.sampled_from(sorted(PART_PREDS)), min_size=1, max_size=4
        ),
        "filters": st.lists(filter_st, min_size=0, max_size=3, unique=True),
        "distinct": st.booleans(),
        "order": st.lists(
            st.tuples(st.sampled_from(sorted(PART_PREDS)), st.booleans()),
            min_size=0,
            max_size=2,
            unique_by=lambda t: t[0],
        ),
        "limit": st.sampled_from([None, 7, 100]),
    }
)


def _build(spec):
    sel_vars = sorted(spec["select"]) + sorted(
        {f[0] for f in spec["filters"]} | {o[0] for o in spec["order"]}
        - spec["select"]
    )
    sel_vars = list(dict.fromkeys(sel_vars))
    triples = " ".join(f"?p sa:{v} ?{v} ." for v in sel_vars)
    filters = []
    sql_filters = []
    for var, op, val in spec["filters"]:
        col = PART_PREDS[var][0]
        if op in ("in", "not in"):
            items = ", ".join(f'"{v}"' for v in val)
            sql_items = ", ".join(f"'{v}'" for v in val)
            kw = "NOT IN" if op == "not in" else "IN"
            filters.append(f"FILTER (?{var} {kw} ({items}))")
            sql_filters.append(f"{col} {kw} ({sql_items})")
        elif op in ("strbefore=", "strafter="):
            fn = op[:-1]
            filters.append(f'FILTER ({fn.upper()}(?{var}, " ") = "{val}")')
            sql_filters.append(f"{_strcut_sql(col, fn)} = '{val}'")
        elif isinstance(val, str):
            filters.append(f'FILTER (?{var} {op} "{val}")')
            sql_filters.append(
                f"{col} {'<>' if op == '!=' else op} '{val}'"
            )
        else:
            filters.append(f"FILTER (?{var} {op} {val})")
            sql_filters.append(
                f"{col} {'<>' if op == '!=' else op} {val}"
            )
    order = spec["order"]
    # LIMIT without a total order is nondeterministic -> force unique
    # tiebreak by projecting + ordering on the subject id
    use_limit = spec["limit"] is not None
    order_sql = ""
    order_sparql = ""
    subj = ""
    if order or use_limit:
        keys = [(v, desc) for v, desc in order]
        sparql_keys = [
            (f"DESC(?{v})" if desc else f"?{v}") for v, desc in keys
        ]
        sql_keys = [
            f"{PART_PREDS[v][0]}{' DESC' if desc else ''}" for v, desc in keys
        ]
        if use_limit:
            sparql_keys.append("?p")
            sql_keys.append("p")
            subj = "?p "
        order_sparql = "ORDER BY " + " ".join(sparql_keys) if sparql_keys else ""
        order_sql = "ORDER BY " + ", ".join(sql_keys) if sql_keys else ""

    distinct = "DISTINCT " if spec["distinct"] else ""
    sparql = (
        PREFIX_BLOCK
        + f"SELECT {distinct}{subj}{' '.join('?' + v for v in sel_vars)} WHERE {{ "
        + "?p a sa:Part . "
        + triples
        + " "
        + " ".join(filters)
        + " } "
        + order_sparql
        + (f" LIMIT {spec['limit']}" if use_limit else "")
    )
    sql_cols = ([f"p_partkey AS p"] if subj else []) + [
        f"{PART_PREDS[v][0]} AS {v}" for v in sel_vars
    ]
    sql = f"SELECT {distinct}{', '.join(sql_cols)} FROM part"
    if sql_filters:
        sql += " WHERE " + " AND ".join(sql_filters)
    if order_sql:
        sql += " " + order_sql
    if use_limit:
        sql += f" LIMIT {spec['limit']}"
    return sparql, sql


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(spec=query_st)
def test_random_queries_match_oracle(engine, duck, spec):
    if spec["distinct"] and spec["limit"] is not None:
        # DISTINCT + LIMIT with the ?p tiebreak projects p, making
        # distinct trivial; still a valid check, keep it
        pass
    sparql, sql = _build(spec)
    df = engine.sparql(sparql)
    assert_matches_oracle(df, duck, sql)


CUST_PREDS = {
    "cname": ("c_name", "name"),
    "bal": ("c_acctbal", "acctbal"),
    "seg": ("c_mktsegment", "mktsegment"),
}

cust_filter_st = st.sampled_from(
    [("bal", op, v) for op in NUM_OPS for v in (0, 5000.0)]
    + [("seg", op, "BUILDING") for op in ["=", "!="]]
)

join_query_st = st.fixed_dictionaries(
    {
        "select": st.sets(st.sampled_from(sorted(CUST_PREDS)), min_size=1),
        "with_nation_name": st.booleans(),
        "filters": st.lists(cust_filter_st, min_size=0, max_size=2, unique=True),
        "distinct": st.booleans(),
    }
)


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(spec=join_query_st)
def test_random_join_queries_match_oracle(engine, duck, spec):
    sel = sorted(spec["select"] | {f[0] for f in spec["filters"]})
    triples = " ".join(f"?c sa:{CUST_PREDS[v][1]} ?{v} ." for v in sel)
    filters = []
    sql_filters = []
    for var, op, val in spec["filters"]:
        sql_op = "<>" if op == "!=" else op
        if isinstance(val, str):
            filters.append(f'FILTER (?{var} {op} "{val}")')
            sql_filters.append(f"{CUST_PREDS[var][0]} {sql_op} '{val}'")
        else:
            filters.append(f"FILTER (?{var} {op} {val})")
            sql_filters.append(f"{CUST_PREDS[var][0]} {sql_op} {val}")
    nat = "?n a sa:Nation ; sa:name ?nname . " if spec["with_nation_name"] else "?n a sa:Nation . "
    out_vars = sel + (["nname"] if spec["with_nation_name"] else [])
    distinct = "DISTINCT " if spec["distinct"] else ""
    sparql = (
        PREFIX_BLOCK
        + f"SELECT {distinct}{' '.join('?' + v for v in out_vars)} WHERE {{ "
        + "?c a sa:Customer ; sa:nation ?n . "
        + triples
        + nat
        + " ".join(filters)
        + " }"
    )
    sql_cols = [f"{CUST_PREDS[v][0]} AS {v}" for v in sel] + (
        ["n_name AS nname"] if spec["with_nation_name"] else []
    )
    sql = (
        f"SELECT {distinct}{', '.join(sql_cols)} FROM customer "
        "JOIN nation ON c_nationkey = n_nationkey"
    )
    if sql_filters:
        sql += " WHERE " + " AND ".join(sql_filters)
    df = engine.sparql(sparql)
    assert_matches_oracle(df, duck, sql)


# ---------------------------------------------------------------------------
# BIND expression fuzz: random arithmetic ASTs over part columns must
# produce identical values through the engine and through the same tree
# rendered as SQL and run on DuckDB.
# ---------------------------------------------------------------------------

_EXPR_VARS = {"size": "p_size", "retailprice": "p_retailprice"}

_leaf_st = st.one_of(
    st.sampled_from(sorted(_EXPR_VARS)).map(lambda v: ("var", v)),
    st.integers(min_value=1, max_value=9).map(lambda n: ("lit", n)),
)


def _expr_tree(depth):
    if depth == 0:
        return _leaf_st
    sub = _expr_tree(depth - 1)
    return st.one_of(
        _leaf_st,
        st.tuples(st.sampled_from("+-*"), sub, sub).map(
            lambda t: ("bin", t[0], t[1], t[2])
        ),
        sub.map(lambda x: ("abs", x)),
    )


def _render(node) -> str:
    kind = node[0]
    if kind == "var":
        return f"?{node[1]}"
    if kind == "lit":
        return str(node[1])
    if kind == "abs":
        return f"ABS({_render(node[1])})"
    _, op, a, b = node
    return f"({_render(a)} {op} {_render(b)})"


def _render_sql(node) -> str:
    kind = node[0]
    if kind == "var":
        return _EXPR_VARS[node[1]]
    if kind == "lit":
        return str(node[1])
    if kind == "abs":
        return f"abs({_render_sql(node[1])})"
    _, op, a, b = node
    return f"({_render_sql(a)} {op} {_render_sql(b)})"


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(tree=_expr_tree(3))
def test_bind_expr_fuzz(engine, duck, tree):
    q = (
        PREFIX_BLOCK
        + f"""
        SELECT ?size ?v WHERE {{
            ?p a sa:Part ; sa:size ?size ; sa:retailprice ?retailprice .
            BIND({_render(tree)} AS ?v)
        }}
        """
    )
    oracle = (
        f"SELECT p_size AS size, {_render_sql(tree)} AS v FROM part"
    )
    assert_matches_oracle(engine.sparql(q), duck, oracle)


# ---------------------------------------------------------------------------
# 3-star chain fuzz (r4): customer -> nation -> region with random
# per-star filters/projections — the deepest common join shape.
# ---------------------------------------------------------------------------

chain_query_st = st.fixed_dictionaries(
    {
        "cust_sel": st.sets(
            st.sampled_from(["cname", "bal", "seg"]), min_size=1, max_size=2
        ),
        "bal_filter": st.sampled_from([None, 0, 5000.0]),
        "region_filter": st.sampled_from([None, "REGION_1", "REGION_3"]),
        "distinct": st.booleans(),
    }
)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(spec=chain_query_st)
def test_random_three_star_chain_matches_oracle(engine, duck, spec):
    sel = sorted(spec["cust_sel"])
    triples = " ".join(f"?c sa:{CUST_PREDS[v][1]} ?{v} ." for v in sel)
    filters = []
    sql_filters = []
    if spec["bal_filter"] is not None:
        if "bal" not in sel:
            sel_plus = sel + ["bal"]
            triples += " ?c sa:acctbal ?bal ."
        else:
            sel_plus = sel
        filters.append(f"FILTER (?bal > {spec['bal_filter']})")
        sql_filters.append(f"c_acctbal > {spec['bal_filter']}")
    else:
        sel_plus = sel
    if spec["region_filter"] is not None:
        filters.append(f'FILTER (?rname = "{spec["region_filter"]}")')
        sql_filters.append(f"r_name = '{spec['region_filter']}'")
    distinct = "DISTINCT " if spec["distinct"] else ""
    out_vars = sel_plus + ["rname"]
    sparql = (
        PREFIX_BLOCK
        + f"SELECT {distinct}{' '.join('?' + v for v in out_vars)} WHERE {{ "
        + "?c a sa:Customer ; sa:nation ?n . "
        + triples
        + " ?n a sa:Nation ; sa:region ?r . "
        + "?r a sa:Region ; sa:name ?rname . "
        + " ".join(filters)
        + " }"
    )
    sql_cols = [f"{CUST_PREDS[v][0]} AS {v}" for v in sel_plus] + [
        "r_name AS rname"
    ]
    sql = (
        f"SELECT {distinct}{', '.join(sql_cols)} FROM customer "
        "JOIN nation ON c_nationkey = n_nationkey "
        "JOIN region ON n_regionkey = r_regionkey"
    )
    if sql_filters:
        sql += " WHERE " + " AND ".join(sql_filters)
    df = engine.sparql(sparql)
    assert_matches_oracle(df, duck, sql)


# --------------------------------------------------------------------
# r4: OPTIONAL block-unit semantics fuzz — random placements of block
# filters, attach (ON) filters, nesting, and cross-scope comparisons
# must agree with a generated LEFT-JOIN-subquery oracle.
# --------------------------------------------------------------------

optional_spec_st = st.fixed_dictionaries(
    {
        "block_filter": st.sampled_from([None, 2000.0, 8000.0]),
        "attach_on_mand": st.booleans(),
        "nested": st.booleans(),
        "nested_filter": st.sampled_from([None, 200000.0]),
        "nested_attach_crossvar": st.booleans(),
    }
)


def _build_optional(spec):
    blk_f = spec["block_filter"]
    nested = spec["nested"]
    nf = spec["nested_filter"]
    cross = spec["nested_attach_crossvar"] and nested

    sparql_parts = [
        "?c a sa:Customer ; sa:nation ?n ; sa:name ?cname ; sa:acctbal ?bal ."
    ]
    if blk_f is not None:
        sparql_parts.append(f"FILTER (?bal > {blk_f})")
    if spec["attach_on_mand"]:
        sparql_parts.append('FILTER (?nname != "NATION_3")')
    if nested:
        inner = ["?o a sa:Orders ; sa:customer ?c ; sa:totalprice ?tp ."]
        if nf is not None:
            inner.append(f"FILTER (?tp > {nf})")
        if cross:
            inner.append("FILTER (?tp > ?bal)")
        sparql_parts.append("OPTIONAL { " + " ".join(inner) + " }")
    proj = "?nname ?cname" + (" ?tp" if nested else "")
    sparql = (
        PREFIX_BLOCK
        + f"SELECT {proj} WHERE {{ ?n a sa:Nation ; sa:name ?nname . "
        + "OPTIONAL { "
        + " ".join(sparql_parts)
        + " } }"
    )

    c_sub = "SELECT * FROM customer"
    if blk_f is not None:
        c_sub += f" WHERE c_acctbal > {blk_f}"
    on_c = "c.c_nationkey = n_nationkey"
    if spec["attach_on_mand"]:
        on_c += " AND n_name <> 'NATION_3'"
    sql = (
        "SELECT n_name AS nname, c.c_name AS cname"
        + (", o.o_totalprice AS tp" if nested else "")
        + f" FROM nation LEFT JOIN ({c_sub}) AS c ON {on_c}"
    )
    if nested:
        o_sub = "SELECT * FROM orders"
        if nf is not None:
            o_sub += f" WHERE o_totalprice > {nf}"
        on_o = "o.o_custkey = c.c_custkey"
        if cross:
            on_o += " AND o.o_totalprice > c.c_acctbal"
        sql += f" LEFT JOIN ({o_sub}) AS o ON {on_o}"
    return sparql, sql


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(spec=optional_spec_st)
def test_optional_block_fuzz_matches_left_join_oracle(engine, duck, spec):
    sparql, sql = _build_optional(spec)
    df = engine.sparql(sparql)
    assert_matches_oracle(df, duck, sql)
