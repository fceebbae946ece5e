"""SPARQL UNION (extension) + as-of / range join operators."""

from tests.conftest import assert_matches_oracle

import pytest
from pyspark.sql import functions as F

from sparkall_spark.engine import Engine
from sparkall_spark.fixtures import PREFIX_BLOCK, load_table, tpch_mappings
from sparkall_spark.operators.temporal import asof_join, range_join


@pytest.fixture(scope="module")
def engine(spark, sf_dir):
    return Engine(spark, tpch_mappings(sf_dir))


def test_sparql_union(engine, duck):
    df = engine.sparql(
        PREFIX_BLOCK
        + """
        SELECT ?name WHERE {
            { ?c a sa:Customer ; sa:name ?name ; sa:acctbal ?bal .
              FILTER (?bal > 9000) }
            UNION
            { ?s a sa:Supplier ; sa:name ?name . }
        }
        """
    )
    assert_matches_oracle(
        df,
        duck,
        """
        SELECT c_name AS name FROM customer WHERE c_acctbal > 9000
        UNION ALL SELECT s_name AS name FROM supplier
        """,
    )


def test_sparql_union_distinct_order_limit(engine, duck):
    df = engine.sparql(
        PREFIX_BLOCK
        + """
        SELECT DISTINCT ?name WHERE {
            { ?n a sa:Nation ; sa:name ?name . }
            UNION
            { ?n a sa:Nation ; sa:name ?name . }
        }
        ORDER BY ?name
        LIMIT 10
        """
    )
    assert_matches_oracle(
        df,
        duck,
        """
        SELECT DISTINCT name FROM (
          SELECT n_name AS name FROM nation
          UNION ALL SELECT n_name AS name FROM nation)
        ORDER BY name LIMIT 10
        """,
    )


_COUNT = "SELECT (COUNT(*) AS ?n) WHERE "


@pytest.mark.parametrize(
    "query,error",
    [
        (
            _COUNT + "{ { ?x a sa:Nation . } UNION { ?x a sa:Region . } }",
            "UNION combined with aggregation",
        ),
        # path alternation expands to UNION branches
        (
            _COUNT + "{ ?p a sa:Part ; (sa:name|sa:brand) ?v . }",
            "UNION combined with aggregation",
        ),
        (
            "SELECT ?name WHERE { { ?n a sa:Nation ; sa:name ?name ; "
            "sa:region ?r . } UNION { ?n a sa:Region ; sa:name ?name . } } "
            "ORDER BY ?r",
            "UNION ORDER BY keys must be projected",
        ),
    ],
    ids=["union_aggregate", "path_alternation_aggregate", "order_by_unprojected"],
)
def test_union_unsupported_shapes_rejected(engine, query, error):
    """Aggregation over a UNION, and a UNION ORDER BY on a key it does
    not project, are outside the supported fragment: they raise a clear
    error, never per-branch aggregates or an analysis error."""
    from sparkall_spark.plans.sqlgen import ExecutionError

    with pytest.raises(ExecutionError, match=error):
        engine.sparql(PREFIX_BLOCK + query).collect()


def test_union_unbound_var_nulls(engine):
    df = engine.sparql(
        PREFIX_BLOCK
        + """
        SELECT ?name ?bal WHERE {
            { ?c a sa:Customer ; sa:name ?name ; sa:acctbal ?bal .
              FILTER (?bal > 9900) }
            UNION
            { ?r a sa:Region ; sa:name ?name . }
        }
        """
    )
    rows = df.collect()
    region_rows = [r for r in rows if not r["name"].startswith("Customer")]
    assert len(region_rows) == 5  # the five regions
    assert all(r["bal"] is None for r in region_rows)
    assert all(r["bal"] is not None for r in rows if r["name"].startswith("Customer"))


def test_asof_join_vs_duckdb(spark, duck, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    out = asof_join(
        ev,
        ev.select("user_id", "ts", "event_id", "value"),
        on=["user_id"],
        right_cols=["event_id", "value"],
        strict=True,
        how="inner",
    ).select(
        "event_id",
        F.col("asof_event_id").alias("prev_event_id"),
        F.round(F.col("asof_value"), 6).alias("prev_value"),
    )
    assert_matches_oracle(
        out,
        duck,
        """
        SELECT a.event_id AS event_id, b.event_id AS prev_event_id,
               round(b.value, 6) AS prev_value
        FROM events a ASOF JOIN events b
          ON a.user_id = b.user_id AND b.ts < a.ts
        """,
    )


def test_asof_join_left_keeps_unmatched(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    inner = asof_join(ev, ev.select("user_id", "ts", "value"),
                      on=["user_id"], right_cols=["value"], how="inner")
    left = asof_join(ev, ev.select("user_id", "ts", "value"),
                     on=["user_id"], right_cols=["value"], how="left")
    n_users = ev.select("user_id").distinct().count()
    assert left.count() == ev.count()
    # exactly one unmatched row per user (its first event)
    assert left.count() - inner.count() == n_users


def test_asof_inner_matches_all_null_right_values(spark):
    """A matched right row whose selected value columns are all NULL is
    still a match — inner must keep the left row (match detection via
    the explicit __r_match marker, not value nullness)."""
    left = spark.createDataFrame(
        [(1, 10), (1, 20)], "k int, ts int"
    )
    right = spark.createDataFrame(
        [(1, 5, None)], "k int, ts int, v string"
    )
    out = asof_join(
        left, right, on=["k"], left_ts="ts", right_ts="ts",
        right_cols=["v"], strict=True, how="inner",
    )
    rows = sorted((r["ts"], r["asof_v"]) for r in out.collect())
    assert rows == [(10, None), (20, None)]


def test_asof_inner_with_no_right_cols_still_filters(spark):
    """right_cols=[] must not silently degrade inner to left semantics:
    left rows before any right row are dropped."""
    left = spark.createDataFrame(
        [(1, 1), (1, 10)], "k int, ts int"
    )
    right = spark.createDataFrame([(1, 5)], "k int, ts int")
    out = asof_join(
        left, right, on=["k"], left_ts="ts", right_ts="ts",
        right_cols=[], strict=True, how="inner",
    )
    assert [r["ts"] for r in out.collect()] == [10]
    # and left mode keeps both
    out_l = asof_join(
        left, right, on=["k"], left_ts="ts", right_ts="ts",
        right_cols=[], strict=True, how="left",
    )
    assert sorted(r["ts"] for r in out_l.collect()) == [1, 10]


def test_range_join(spark, duck, sf_dir):
    """Points (events) into per-user hour intervals built from events."""
    ev = load_table(spark, sf_dir, "events")
    intervals = (
        ev.groupBy("user_id")
        .agg(F.min("ts").alias("start_ts"))
        .withColumn("end_ts", F.col("start_ts") + F.expr("INTERVAL 2 DAYS"))
    )
    out = range_join(
        ev, intervals, on=["user_id"], point="ts",
        range_start="start_ts", range_end="end_ts",
    ).select("event_id", "user_id")
    assert_matches_oracle(
        out,
        duck,
        """
        WITH iv AS (
          SELECT user_id, min(ts) AS start_ts,
                 min(ts) + INTERVAL 2 DAY AS end_ts
          FROM events GROUP BY user_id)
        SELECT e.event_id, e.user_id
        FROM events e JOIN iv ON e.user_id = iv.user_id
        WHERE iv.start_ts <= e.ts AND e.ts < iv.end_ts
        """,
    )


def test_sparql_minus(engine, duck):
    """MINUS removes customers in BUILDING segment (shared var ?c)."""
    text = PREFIX_BLOCK + """
        SELECT ?name WHERE {
            ?c a sa:Customer ; sa:name ?name .
            MINUS { ?c a sa:Customer ; sa:mktsegment ?seg .
                    FILTER (?seg = "BUILDING") }
        }
        """
    oracle = """
        SELECT c_name AS name FROM customer
        WHERE c_custkey NOT IN
          (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
        """
    assert_matches_oracle(engine.sparql(text), duck, oracle)


def test_sparql_minus_join_group(engine, duck):
    """MINUS group with its own join: customers who never placed an
    order above 400k."""
    text = PREFIX_BLOCK + """
        SELECT ?name WHERE {
            ?c a sa:Customer ; sa:name ?name .
            MINUS { ?o a sa:Orders ; sa:customer ?c ; sa:totalprice ?tp .
                    FILTER (?tp > 400000) }
        }
        """
    oracle = """
        SELECT c_name AS name FROM customer
        WHERE c_custkey NOT IN
          (SELECT o_custkey FROM orders WHERE o_totalprice > 400000)
        """
    assert_matches_oracle(engine.sparql(text), duck, oracle)


def test_filter_exists(engine, duck):
    text = PREFIX_BLOCK + """
        SELECT ?name WHERE {
            ?c a sa:Customer ; sa:name ?name .
            FILTER EXISTS { ?o a sa:Orders ; sa:customer ?c ; sa:totalprice ?tp .
                            FILTER (?tp > 400000) }
        }
        """
    oracle = """
        SELECT c_name AS name FROM customer
        WHERE c_custkey IN
          (SELECT o_custkey FROM orders WHERE o_totalprice > 400000)
        """
    assert_matches_oracle(engine.sparql(text), duck, oracle)


def test_filter_not_exists(engine, duck):
    text = PREFIX_BLOCK + """
        SELECT ?name WHERE {
            ?c a sa:Customer ; sa:name ?name .
            FILTER NOT EXISTS { ?o a sa:Orders ; sa:customer ?c . }
        }
        """
    oracle = """
        SELECT c_name AS name FROM customer
        WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
        """
    assert_matches_oracle(engine.sparql(text), duck, oracle)


def test_values_inline_data(engine, duck):
    text = PREFIX_BLOCK + """
        SELECT ?name ?seg WHERE {
            ?c a sa:Customer ; sa:name ?name ; sa:mktsegment ?seg .
            VALUES ?seg { "BUILDING" "MACHINERY" }
        }
        """
    oracle = """
        SELECT c_name AS name, c_mktsegment AS seg FROM customer
        WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
        """
    assert_matches_oracle(engine.sparql(text), duck, oracle)


def test_offset_limit(engine, duck):
    text = PREFIX_BLOCK + """
        SELECT ?name WHERE { ?n a sa:Nation ; sa:name ?name . }
        ORDER BY ?name
        LIMIT 5 OFFSET 10
        """
    oracle = """
        SELECT n_name AS name FROM nation ORDER BY name LIMIT 5 OFFSET 10
        """
    assert_matches_oracle(engine.sparql(text), duck, oracle)
