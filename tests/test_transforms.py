import pytest

from sparkall_spark.functions.transforms import (
    TransformError,
    transform_chain_sql,
    transform_sql,
)


@pytest.fixture(scope="module")
def df(spark):
    return spark.createDataFrame(
        [(1, "10", "abc"), (2, "20", "xbc"), (3, "bad", "abz")],
        ["id", "num", "s"],
    )


def _vals(df, expr):
    return [r["out"] for r in df.selectExpr(f"{expr} AS out", "id").orderBy("id").collect()]


def test_toInt_nulls_on_failure(df):
    expr, flt = transform_sql("num", "toInt")
    assert flt is None
    assert _vals(df, expr) == [10, 20, None]


def test_scl_variants(df):
    base = "TRY_CAST(num AS INT)"
    expr, _ = transform_sql(base, "scl(+5)")
    assert _vals(df, expr) == [15, 25, None]
    expr, _ = transform_sql(base, "scl(*2)")
    assert _vals(df, expr) == [20, 40, None]
    expr, _ = transform_sql(base, "scl(-1)")
    assert _vals(df, expr) == [9, 19, None]
    # the reference's underscore spelling scl(_+61)
    expr, _ = transform_sql(base, "scl(_+61)")
    assert _vals(df, expr) == [71, 81, None]


def test_skp_returns_filter(df):
    expr, flt = transform_sql("id", "skp(2)")
    assert flt is not None
    assert [r["id"] for r in df.filter(flt).collect()] == [1, 3]


def test_substit_keeps_nonmatches(df):
    """Reference bug fixed: a CASE so non-matching rows keep their
    value (SparkExecutor.scala:219-225 nulls them)."""
    expr, _ = transform_sql("s", "substit(abc,zzz)")
    assert _vals(df, expr) == ["zzz", "xbc", "abz"]


def test_replc(df):
    expr, _ = transform_sql("s", "replc(bc,XY)")
    assert _vals(df, expr) == ["aXY", "xXY", "abz"]


def test_prefix_postfix(df):
    expr, _ = transform_sql("s", "prefix(P_)")
    assert _vals(df, expr) == ["P_abc", "P_xbc", "P_abz"]
    expr, _ = transform_sql("s", "postfix(_S)")
    assert _vals(df, expr) == ["abc_S", "xbc_S", "abz_S"]


def test_chain_with_filters(df):
    expr, filters = transform_chain_sql("id", ["toInt", "scl(*10)", "skp(20)"])
    out = df.selectExpr(f"{expr} AS v", "id")
    for f in filters:
        out = out.filter(f)
    assert sorted(r["v"] for r in out.collect()) == [10, 30]


def test_errors():
    with pytest.raises(TransformError):
        transform_sql("x", "nope(1)")
    with pytest.raises(TransformError):
        transform_sql("x", "scl(bad)")
    with pytest.raises(TransformError):
        transform_sql("x", "substit(onlyone)")


def test_chain_skp_after_scl_engine_order(spark, sf_dir, duck):
    """Regression (r4): in the engine, skp's row filter compares the
    value at its own position ((x+1) <> 4); re-resolving it against the
    transformed column would double-apply the upstream chain
    ((x+1)+1 <> 4) and silently drop the wrong rows."""
    from tests.conftest import assert_matches_oracle

    from sparkall_spark.engine import Engine
    from sparkall_spark.fixtures import PREFIX_BLOCK, tpch_mappings

    engine = Engine(spark, tpch_mappings(sf_dir))
    df = engine.sparql(
        PREFIX_BLOCK
        + """
        SELECT ?cname WHERE {
            ?c a sa:Customer ; sa:name ?cname ; sa:nation ?n .
            ?n a sa:Nation .
        }
        TRANSFORM(?c?n.l.toInt.scl(+1).skp(4) && ?c?n.r.toInt.scl(+1))
        """
    )
    assert_matches_oracle(
        df,
        duck,
        """
        SELECT c_name AS cname
        FROM customer JOIN nation
          ON (CAST(c_nationkey AS INT) + 1) = (CAST(n_nationkey AS INT) + 1)
        WHERE (CAST(c_nationkey AS INT) + 1) <> 4
        """,
    )

