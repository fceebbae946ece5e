"""Plan-shape assertions: the physical plans the engine must produce at
scale (pushdown, pruning, broadcast, top-k) — the 100 TB contract."""

import pytest

from sparkall_spark.engine import Engine
from sparkall_spark.fixtures import PREFIX_BLOCK, tpch_mappings


@pytest.fixture(scope="module")
def engine(spark, sf_dir):
    return Engine(spark, tpch_mappings(sf_dir))


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_and_column_pruning(engine):
    df = engine.sparql(
        PREFIX_BLOCK
        + """
        SELECT ?name WHERE {
            ?p a sa:Part ; sa:name ?name ; sa:size ?size .
            FILTER (?size > 30)
        }
        """
    )
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(p_size), GreaterThan(p_size,30)" in plan
    # scan must read only the two referenced columns of part's six
    assert "ReadSchema: struct<p_name:string,p_size:int>" in plan


def test_dimension_joins_broadcast(engine):
    df = engine.sparql(
        PREFIX_BLOCK
        + """
        SELECT ?cname ?nname ?rname WHERE {
            ?c a sa:Customer ; sa:name ?cname ; sa:nation ?n .
            ?n a sa:Nation ; sa:name ?nname ; sa:region ?r .
            ?r a sa:Region ; sa:name ?rname .
        }
        """
    )
    plan = _plan(df)
    assert plan.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in plan


def test_order_limit_is_topk(engine):
    df = engine.sparql(
        PREFIX_BLOCK
        + """
        SELECT ?name ?price WHERE {
            ?p a sa:Part ; sa:name ?name ; sa:retailprice ?price .
        }
        ORDER BY DESC(?price)
        LIMIT 10
        """
    )
    plan = _plan(df)
    assert "TakeOrderedAndProject" in plan  # per-partition top-k, no global sort


def test_prejoin_filter_stays_pushed_through_join(engine):
    df = engine.sparql(
        PREFIX_BLOCK
        + """
        SELECT ?qty WHERE {
            ?l a sa:Lineitem ; sa:order ?o ; sa:quantity ?qty .
            ?o a sa:Orders .
            FILTER (?qty > 45)
        }
        """
    )
    plan = _plan(df)
    assert "GreaterThan(l_quantity,45.0)" in plan  # reaches the scan


def test_embedding_neardup_default_has_no_nested_loop(spark, sf_dir):
    """The default (LSH-bucketed) embedding near-dup path must plan as
    hash joins on (table, bucket) — never BroadcastNestedLoopJoin or a
    cartesian product (the O(N^2) scale-killer the exact path pays)."""
    from sparkall_spark.operators import dedup as D

    df = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    plan = _plan(D.embedding_neardup_pairs(df, threshold=0.8))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_sql_backend_same_plan_shape(engine):
    q = (
        PREFIX_BLOCK
        + """
        SELECT ?cname ?nname WHERE {
            ?c a sa:Customer ; sa:name ?cname ; sa:nation ?n .
            ?n a sa:Nation ; sa:name ?nname .
        }
        """
    )
    plan = _plan(engine.sparql(q))
    for marker in ("BroadcastHashJoin", "PushedFilters"):
        assert marker in plan, marker


def test_bind_filter_pushes_into_scan(engine):
    """A FILTER over a BIND-computed column must not block pushdown:
    Catalyst folds the bind projection and pushes the derived predicate
    into the lineitem scan's DataFilters (and the regex filters into the
    part scan) — BIND adds zero shuffles and zero scan width."""
    df = engine.sparql(
        PREFIX_BLOCK
        + """
        SELECT ?name ?dp WHERE {
            ?l a sa:Lineitem ; sa:extendedprice ?ep ; sa:discount ?d ;
               sa:part ?p .
            ?p a sa:Part ; sa:name ?name .
            FILTER rlike(?name, "^[a-z]+ [a-z]+$")
            BIND(ROUND(?ep * (1 - ?d), 2) AS ?dp)
            FILTER (?dp > 50000)
        }
        """
    )
    plan = _plan(df)
    assert "round((l_extendedprice" in plan and "> 50000" in plan.replace(
        "50000.0)", "50000.0) "
    )
    # the bind-derived predicate sits in the lineitem scan's DataFilters
    lineitem_scan = next(
        l for l in plan.splitlines()
        if "FileScan" in l and "l_extendedprice" in l
    )
    assert "round(" in lineitem_scan
    assert "RLIKE" in plan
    assert "BroadcastHashJoin" in plan


def test_in_filter_pushes_into_scan(engine):
    """Infix IN over literals (r4) must reach the parquet scan as a
    single In predicate — not a post-scan OR chain."""
    df = engine.sparql(
        PREFIX_BLOCK
        + """
        SELECT ?name WHERE {
            ?c a sa:Customer ; sa:name ?name ; sa:mktsegment ?seg .
            FILTER (?seg IN ("BUILDING", "MACHINERY"))
        }
        """
    )
    plan = _plan(df)
    assert "In(c_mktsegment, [BUILDING,MACHINERY])" in plan


def test_negated_path_stays_pushdown_friendly(engine):
    """The negated-path rewrite produces plain positive scans: minimal
    ReadSchema, no extra shuffle beyond the union."""
    df = engine.sparql(
        PREFIX_BLOCK
        + "SELECT ?n ?o WHERE { ?n a sa:Nation . ?n !sa:region ?o . }"
    )
    plan = _plan(df)
    assert "ReadSchema: struct<n_nationkey:int,n_name:string>" in plan
    assert "Exchange" not in plan  # single complement -> map-only scan
