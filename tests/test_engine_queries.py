"""End-to-end: SPARQL -> engine DataFrame vs DuckDB ANSI-SQL oracle."""

from tests.conftest import assert_matches_oracle

import pytest

from sparkall_spark.engine import Engine
from sparkall_spark.fixtures import PREFIX_BLOCK, tpch_mappings


@pytest.fixture(scope="module")
def engine(spark, sf_dir):
    return Engine(spark, tpch_mappings(sf_dir))


def q(body: str) -> str:
    return PREFIX_BLOCK + body


def test_single_star_filter_order_limit(engine, duck):
    df = engine.sparql(
        q(
            """
        SELECT DISTINCT ?name ?size WHERE {
            ?p a sa:Part .
            ?p sa:name ?name .
            ?p sa:size ?size .
            FILTER (?size > 30)
        }
        ORDER BY ?name DESC(?size)
        LIMIT 25
        """
        )
    )
    assert_matches_oracle(
        df,
        duck,
        """
        SELECT DISTINCT p_name AS name, p_size AS size
        FROM part WHERE p_size > 30
        ORDER BY p_name, p_size DESC LIMIT 25
        """,
    )


def test_two_star_join(engine, duck):
    df = engine.sparql(
        q(
            """
        SELECT ?cname ?nname WHERE {
            ?c a sa:Customer ; sa:name ?cname ; sa:nation ?n .
            ?n a sa:Nation ; sa:name ?nname .
        }
        """
        )
    )
    assert_matches_oracle(
        df,
        duck,
        """
        SELECT c_name AS cname, n_name AS nname
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        """,
    )


def test_five_star_join_with_filters(engine, duck):
    df = engine.sparql(
        q(
            """
        SELECT ?cname ?nname ?rname ?totalprice ?qty WHERE {
            ?l a sa:Lineitem ; sa:order ?o ; sa:quantity ?qty .
            ?o a sa:Orders ; sa:customer ?c ; sa:totalprice ?totalprice .
            ?c a sa:Customer ; sa:name ?cname ; sa:nation ?n .
            ?n a sa:Nation ; sa:name ?nname ; sa:region ?r .
            ?r a sa:Region ; sa:name ?rname .
            FILTER (?qty > 45)
            FILTER (?totalprice > 100000)
        }
        """
        )
    )
    assert_matches_oracle(
        df,
        duck,
        """
        SELECT c_name AS cname, n_name AS nname, r_name AS rname,
               o_totalprice AS totalprice, l_quantity AS qty
        FROM lineitem
          JOIN orders ON l_orderkey = o_orderkey
          JOIN customer ON o_custkey = c_custkey
          JOIN nation ON c_nationkey = n_nationkey
          JOIN region ON n_regionkey = r_regionkey
        WHERE l_quantity > 45 AND o_totalprice > 100000
        """,
    )


def test_groupby_aggregates(engine, duck):
    df = engine.sparql(
        q(
            """
        SELECT ?flag ?status (SUM(?qty) AS ?sum_qty) (AVG(?price) AS ?avg_price)
               (MIN(?disc) AS ?min_disc) (MAX(?disc) AS ?max_disc)
               (COUNT(*) AS ?n)
        WHERE {
            ?l a sa:Lineitem ; sa:returnflag ?flag ; sa:linestatus ?status ;
               sa:quantity ?qty ; sa:extendedprice ?price ; sa:discount ?disc .
        }
        GROUP BY ?flag ?status
        ORDER BY ?flag ?status
        """
        )
    )
    assert_matches_oracle(
        df,
        duck,
        """
        SELECT l_returnflag AS flag, l_linestatus AS status,
               sum(l_quantity) AS sum_qty, avg(l_extendedprice) AS avg_price,
               min(l_discount) AS min_disc, max(l_discount) AS max_disc,
               count(*) AS n
        FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2
        """,
    )


def test_regex_like_filter(engine, duck):
    df = engine.sparql(
        q(
            """
        SELECT ?name WHERE {
            ?p a sa:Part ; sa:name ?name .
            FILTER regex(?name, "%gre%")
        }
        """
        )
    )
    assert_matches_oracle(
        df, duck, "SELECT p_name AS name FROM part WHERE p_name LIKE '%gre%'"
    )


def test_string_equality_and_neq(engine, duck):
    df = engine.sparql(
        q(
            """
        SELECT ?name ?seg ?bal WHERE {
            ?c a sa:Customer ; sa:name ?name ; sa:mktsegment ?seg ; sa:acctbal ?bal .
            FILTER (?seg = "BUILDING")
            FILTER (?bal != 0)
        }
        """
        )
    )
    assert_matches_oracle(
        df,
        duck,
        """
        SELECT c_name AS name, c_mktsegment AS seg, c_acctbal AS bal
        FROM customer WHERE c_mktsegment = 'BUILDING' AND c_acctbal <> 0
        """,
    )


def test_subject_var_projection(engine, duck):
    df = engine.sparql(
        q(
            """
        SELECT ?o ?totalprice WHERE {
            ?o a sa:Orders ; sa:totalprice ?totalprice .
            FILTER (?totalprice > 400000)
        }
        """
        )
    )
    assert_matches_oracle(
        df,
        duck,
        """
        SELECT o_orderkey AS o, o_totalprice AS totalprice
        FROM orders WHERE o_totalprice > 400000
        """,
    )


def test_multi_source_union(spark, duck, sf_dir):
    """One star backed by two relevant sources -> unionByName
    (reference: SparkExecutor.scala:113-117)."""
    from sparkall_spark.fixtures import NS, _m
    from sparkall_spark.mappings import MappingIndex

    idx = MappingIndex(
        [
            _m("Region", "region", sf_dir, "r_regionkey", {"name": "r_name"}),
            _m("RegionB", "region", sf_dir, "r_regionkey", {"name": "r_name"}),
        ]
    )
    # give both mappings the same class so the star matches both
    for m in idx.mappings:
        m.class_iri = NS + "Region"
    df = Engine(spark, idx).sparql(
        q("SELECT ?name WHERE { ?r a sa:Region ; sa:name ?name . }")
    )
    assert_matches_oracle(
        df,
        duck,
        """
        SELECT r_name AS name FROM region
        UNION ALL SELECT r_name AS name FROM region
        """,
    )


def test_optional_left_join(engine, duck):
    df = engine.sparql(
        q(
            """
        SELECT ?name ?totalprice WHERE {
            ?c a sa:Customer ; sa:name ?name .
            OPTIONAL { ?o a sa:Orders ; sa:customer ?c ; sa:totalprice ?totalprice . }
        }
        """
        )
    )
    assert_matches_oracle(
        df,
        duck,
        """
        SELECT c_name AS name, o_totalprice AS totalprice
        FROM customer LEFT JOIN orders ON o_custkey = c_custkey
        """,
    )


def test_transform_join_columns(engine, duck):
    """TRANSFORM rewrites join columns: shift both sides by +1 — join
    result must be identical to the untransformed join."""
    df = engine.sparql(
        q(
            """
        SELECT ?cname ?nname WHERE {
            ?c a sa:Customer ; sa:name ?cname ; sa:nation ?n .
            ?n a sa:Nation ; sa:name ?nname .
        }
        TRANSFORM(?c?n.l.toInt.scl(+1) && ?c?n.r.toInt.scl(+1))
        """
        )
    )
    assert_matches_oracle(
        df,
        duck,
        """
        SELECT c_name AS cname, n_name AS nname
        FROM customer JOIN nation
          ON (CAST(c_nationkey AS INT) + 1) = (CAST(n_nationkey AS INT) + 1)
        """,
    )


def test_transform_skp_filter(engine, duck):
    df = engine.sparql(
        q(
            """
        SELECT ?cname ?nname WHERE {
            ?c a sa:Customer ; sa:name ?cname ; sa:nation ?n .
            ?n a sa:Nation ; sa:name ?nname .
        }
        TRANSFORM(?c?n.l.skp(3))
        """
        )
    )
    assert_matches_oracle(
        df,
        duck,
        """
        SELECT c_name AS cname, n_name AS nname
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        WHERE c_nationkey <> 3
        """,
    )


def test_count_distinct(engine, duck):
    df = engine.sparql(
        q(
            """
        SELECT ?status (COUNT(DISTINCT ?flag) AS ?n_flags) WHERE {
            ?l a sa:Lineitem ; sa:returnflag ?flag ; sa:linestatus ?status .
        }
        GROUP BY ?status
        """
        )
    )
    assert_matches_oracle(
        df,
        duck,
        """
        SELECT l_linestatus AS status, count(DISTINCT l_returnflag) AS n_flags
        FROM lineitem GROUP BY 1
        """,
    )


def test_multi_var_values_table(engine, duck):
    """VALUES (?a ?b) { (t1) (t2) }: inline solution table joined on
    its variables (r4) — correlated tuples, not independent IN lists."""
    q = (
        PREFIX_BLOCK
        + """
        SELECT ?name ?seg ?nk WHERE {
            ?c a sa:Customer ; sa:name ?name ; sa:mktsegment ?seg ;
               sa:nation ?nk .
            VALUES (?seg ?nk) { ("BUILDING" 11) ("MACHINERY" 19) }
        }
        ORDER BY ?name
        """
    )
    oracle = """
    SELECT c_name AS name, c_mktsegment AS seg, c_nationkey AS nk
    FROM customer
    WHERE (c_mktsegment = 'BUILDING' AND c_nationkey = 11)
       OR (c_mktsegment = 'MACHINERY' AND c_nationkey = 19)
    ORDER BY name
    """
    assert_matches_oracle(engine.sparql(q), duck, oracle, check_order=True)
    a = sorted(map(tuple, engine.sparql(q).collect()))
    assert len(a) > 0


def test_multi_var_values_undef_wildcard(engine, duck):
    """UNDEF leaves a variable unconstrained for that row (SPARQL 1.1
    §10.2.2, r4): ("BUILDING" UNDEF) admits every BUILDING customer,
    (UNDEF 19) every nation-19 customer."""
    q = (
        PREFIX_BLOCK
        + """
        SELECT ?name ?seg ?nk WHERE {
            ?c a sa:Customer ; sa:name ?name ; sa:mktsegment ?seg ;
               sa:nation ?nk .
            VALUES (?seg ?nk) { ("BUILDING" UNDEF) (UNDEF 19) }
        }
        """
    )
    oracle = """
    SELECT c_name AS name, c_mktsegment AS seg, c_nationkey AS nk
    FROM customer
    WHERE c_mktsegment = 'BUILDING'
    UNION ALL
    SELECT c_name, c_mktsegment, c_nationkey FROM customer
    WHERE c_nationkey = 19
    """
    assert_matches_oracle(engine.sparql(q), duck, oracle)
    a = sorted(map(tuple, engine.sparql(q).collect()))
    assert len(a) > 0
    # BUILDING + nation-19 customers appear TWICE (both rows match —
    # SPARQL join multiplicity, mirrored by the UNION ALL oracle)
    from collections import Counter

    dupes = [k for k, n in Counter(a).items() if n == 2]
    assert dupes and all(r[1] == "BUILDING" and r[2] == 19 for r in dupes)

    # parse shape: UNDEF -> None wildcard
    from sparkall_spark.plans.parser import parse_sparql

    pq = parse_sparql(q)
    assert pq.values_tables == [
        (["seg", "nk"], [("BUILDING", None), (None, 19)])
    ]


def test_multi_var_values_rejections():
    from sparkall_spark.plans.parser import SparqlParseError, parse_sparql

    with pytest.raises(SparqlParseError, match="values for"):
        parse_sparql(
            PREFIX_BLOCK
            + """
            SELECT ?name WHERE {
                ?c a sa:Customer ; sa:name ?name ; sa:mktsegment ?seg .
                VALUES (?seg ?name) { ("BUILDING") }
            }
            """
        )


def test_literal_triple_objects(engine, duck):
    """?s p "lit" / ?s p 42 desugar to a fresh variable + equality
    filter (r4) — incl. multi-word strings and ';' continuations."""
    q = (
        PREFIX_BLOCK
        + """
        SELECT ?name WHERE {
            ?c a sa:Customer ; sa:mktsegment "BUILDING" ; sa:name ?name .
        }
        ORDER BY ?name
        """
    )
    oracle = """
    SELECT c_name AS name FROM customer
    WHERE c_mktsegment = 'BUILDING' ORDER BY name
    """
    assert_matches_oracle(engine.sparql(q), duck, oracle, check_order=True)
    a = sorted(map(tuple, engine.sparql(q).collect()))
    assert len(a) > 0

    # numeric literal + multi-word string literal
    q2 = (
        PREFIX_BLOCK
        + """
        SELECT ?name WHERE {
            ?p a sa:Part ; sa:size 7 ; sa:name ?name .
        }
        """
    )
    assert_matches_oracle(
        engine.sparql(q2), duck,
        "SELECT p_name AS name FROM part WHERE p_size = 7",
    )
    q3 = (
        PREFIX_BLOCK
        + """
        SELECT ?nname WHERE {
            ?r a sa:Region ; sa:name "MIDDLE EAST" .
            ?n a sa:Nation ; sa:region ?r ; sa:name ?nname .
        }
        """
    )
    assert_matches_oracle(
        engine.sparql(q3), duck,
        """SELECT n_name AS nname FROM nation JOIN region
           ON n_regionkey = r_regionkey WHERE r_name = 'MIDDLE EAST'""",
    )


def test_regex_flags_case_insensitive(engine, duck):
    """regex(?v, pat, "i") -> ILIKE; rlike(?v, pat, "i") -> (?i) inline
    flag (SPARQL 1.1 §17.4.3.14 flags argument, r4)."""
    q = (
        PREFIX_BLOCK
        + """
        SELECT ?name WHERE {
            ?p a sa:Part ; sa:name ?name .
            FILTER regex(?name, "%WIDGET%", "i")
            FILTER rlike(?name, "^LARGE", "i")
        }
        """
    )
    oracle = """
    SELECT p_name AS name FROM part
    WHERE p_name ILIKE '%WIDGET%' AND regexp_matches(p_name, '(?i)^LARGE')
    """
    assert_matches_oracle(engine.sparql(q), duck, oracle)
    a = sorted(map(tuple, engine.sparql(q).collect()))
    assert len(a) > 0

    from sparkall_spark.plans.parser import SparqlParseError, parse_sparql

    with pytest.raises(SparqlParseError, match="flags"):
        parse_sparql(
            PREFIX_BLOCK
            + 'SELECT ?n WHERE { ?p a sa:Part ; sa:name ?n . '
            'FILTER regex(?n, "x", "gms") }'
        )


def test_nested_optional_left_join_chain(engine, duck):
    """Nested OPTIONAL (r4): A OPT { B OPT { C } } renders a left-deep
    LEFT JOIN chain where C's join key is NULL wherever B did not match
    — the well-designed-pattern equivalence.  The inner star's rows must
    be absent exactly where the outer optional failed, and the FILTER
    inside the outer block acts pre-join (it cannot drop nations)."""
    df = engine.sparql(
        q(
            """
        SELECT ?nname ?cname ?tp WHERE {
            ?n a sa:Nation ; sa:name ?nname .
            OPTIONAL {
                ?c a sa:Customer ; sa:nation ?n ; sa:name ?cname ;
                   sa:acctbal ?bal .
                FILTER (?bal > 9000)
                OPTIONAL { ?o a sa:Orders ; sa:customer ?c ;
                              sa:totalprice ?tp . }
            }
        }
        """
        )
    )
    oracle = """
    SELECT n_name AS nname, c.c_name AS cname, o.o_totalprice AS tp
    FROM nation
    LEFT JOIN (SELECT * FROM customer WHERE c_acctbal > 9000) AS c
        ON c.c_nationkey = n_nationkey
    LEFT JOIN orders AS o ON o.o_custkey = c.c_custkey
    """
    assert_matches_oracle(df, duck, oracle)
    # every nation is preserved
    a = sorted(map(tuple, df.collect()), key=lambda t: tuple(map(str, t)))
    assert len(a) > 0
    nations = duck.execute("SELECT count(DISTINCT n_name) FROM nation").fetchone()[0]
    assert len({r[0] for r in a}) == nations


def test_nested_optional_inner_filter(engine, duck):
    """FILTER inside the inner nested block scopes to the inner star
    only: outer-optional matches survive even when the inner filter
    kills every inner row."""
    df = engine.sparql(
        q(
            """
        SELECT ?nname ?cname ?tp WHERE {
            ?n a sa:Nation ; sa:name ?nname .
            OPTIONAL {
                ?c a sa:Customer ; sa:nation ?n ; sa:name ?cname .
                OPTIONAL { ?o a sa:Orders ; sa:customer ?c ;
                              sa:totalprice ?tp .
                           FILTER (?tp > 400000) }
            }
        }
        """
        )
    )
    oracle = """
    SELECT n_name AS nname, c.c_name AS cname, o.o_totalprice AS tp
    FROM nation
    LEFT JOIN customer AS c ON c.c_nationkey = n_nationkey
    LEFT JOIN (SELECT * FROM orders WHERE o_totalprice > 400000) AS o
        ON o.o_custkey = c.c_custkey
    """
    assert_matches_oracle(df, duck, oracle)


def test_multi_star_optional_block_is_a_unit(engine, duck):
    """An OPTIONAL block containing TWO stars matches as a UNIT: when a
    nation's customers exist but none of their orders pass the block's
    filter, BOTH ?cname and ?tp must be unbound (the r3 per-star chain
    left ?cname bound — 20 wrong rows on this very query at sf0.001)."""
    text = q(
        """
        SELECT ?nname ?cname ?tp WHERE {
            ?n a sa:Nation ; sa:name ?nname .
            OPTIONAL {
                ?c a sa:Customer ; sa:nation ?n ; sa:name ?cname ;
                   sa:acctbal ?bal .
                ?o a sa:Orders ; sa:customer ?c ; sa:totalprice ?tp .
                FILTER (?tp > 400000)
            }
        }
        """
    )
    df = engine.sparql(text)
    oracle = """
    SELECT n_name AS nname, blk.c_name AS cname, blk.o_totalprice AS tp
    FROM nation LEFT JOIN (
        SELECT c_name, c_nationkey, o_totalprice
        FROM customer JOIN orders ON o_custkey = c_custkey
        WHERE o_totalprice > 400000
    ) AS blk ON blk.c_nationkey = n_nationkey
    """
    assert_matches_oracle(df, duck, oracle)
    # no partially-bound block rows
    assert df.filter("cname IS NOT NULL AND tp IS NULL").count() == 0
    a = sorted(map(tuple, df.collect()), key=lambda t: tuple(map(str, t)))
    assert len(a) > 0


def test_optional_block_var_to_var_filter(engine, duck):
    """Var-to-var FILTER across two stars of ONE block applies inside
    the unit's inner join (r4; rejected pre-r4)."""
    text = q(
        """
        SELECT ?nname ?cname ?tp WHERE {
            ?n a sa:Nation ; sa:name ?nname .
            OPTIONAL {
                ?c a sa:Customer ; sa:nation ?n ; sa:name ?cname ;
                   sa:acctbal ?bal .
                ?o a sa:Orders ; sa:customer ?c ; sa:totalprice ?tp .
                FILTER (?bal < ?tp)
            }
        }
        """
    )
    df = engine.sparql(text)
    oracle = """
    SELECT n_name AS nname, blk.c_name AS cname, blk.o_totalprice AS tp
    FROM nation LEFT JOIN (
        SELECT c_name, c_nationkey, o_totalprice
        FROM customer JOIN orders ON o_custkey = c_custkey
        WHERE c_acctbal < o_totalprice
    ) AS blk ON blk.c_nationkey = n_nationkey
    """
    assert_matches_oracle(df, duck, oracle)
    a = sorted(map(tuple, df.collect()), key=lambda t: tuple(map(str, t)))
    assert len(a) > 0


def test_optional_attach_condition_filters(engine, duck):
    """FILTERs inside OPTIONAL that reference the mandatory scope are
    LeftJoin(Ω1, Ω2, expr): they join the LEFT JOIN ON condition.
    Every customer must survive; orders attach only where the customer
    is in BUILDING AND the order beats the account balance."""
    text = q(
        """
        SELECT ?name ?tp WHERE {
            ?c a sa:Customer ; sa:name ?name ; sa:acctbal ?bal ;
               sa:mktsegment ?seg .
            OPTIONAL { ?o a sa:Orders ; sa:customer ?c ;
                          sa:totalprice ?tp .
                       FILTER (?seg = "BUILDING")
                       FILTER (?tp > ?bal) }
        }
        """
    )
    df = engine.sparql(text)
    oracle = """
    SELECT c_name AS name, o.o_totalprice AS tp
    FROM customer LEFT JOIN orders AS o
      ON o.o_custkey = c_custkey
     AND c_mktsegment = 'BUILDING'
     AND o.o_totalprice > c_acctbal
    """
    assert_matches_oracle(df, duck, oracle)
    customers = duck.execute("SELECT count(*) FROM customer").fetchone()[0]
    assert df.select("name").distinct().count() == customers
    a = sorted(map(tuple, df.collect()), key=lambda t: tuple(map(str, t)))
    assert len(a) > 0


def test_three_level_nested_optional(engine, duck):
    """Three-deep nesting: each unit attaches inside its parent, so the
    lineitem filter can only prune lineitems of matched orders of
    matched customers."""
    text = q(
        """
        SELECT ?nname ?cname ?tp ?qty WHERE {
            ?n a sa:Nation ; sa:name ?nname .
            OPTIONAL { ?c a sa:Customer ; sa:nation ?n ; sa:name ?cname .
                OPTIONAL { ?o a sa:Orders ; sa:customer ?c ;
                              sa:totalprice ?tp .
                    OPTIONAL { ?l a sa:Lineitem ; sa:order ?o ;
                                  sa:quantity ?qty .
                               FILTER (?qty > 48) } } }
        }
        """
    )
    df = engine.sparql(text)
    oracle = """
    SELECT n_name AS nname, c.c_name AS cname, o.o_totalprice AS tp,
           l.l_quantity AS qty
    FROM nation
    LEFT JOIN customer AS c ON c.c_nationkey = n_nationkey
    LEFT JOIN orders AS o ON o.o_custkey = c.c_custkey
    LEFT JOIN (SELECT * FROM lineitem WHERE l_quantity > 48) AS l
      ON l.l_orderkey = o.o_orderkey
    """
    assert_matches_oracle(df, duck, oracle)


def test_optional_inside_union_branch(engine, duck):
    df = engine.sparql(
        q(
            """
        SELECT ?name ?tp WHERE {
            { ?c a sa:Customer ; sa:name ?name .
              OPTIONAL { ?o a sa:Orders ; sa:customer ?c ;
                            sa:totalprice ?tp .
                         FILTER (?tp > 400000) } }
            UNION
            { ?s a sa:Supplier ; sa:name ?name . }
        }
        """
        )
    )
    oracle = """
    SELECT c_name AS name, o.o_totalprice AS tp
    FROM customer LEFT JOIN (
        SELECT * FROM orders WHERE o_totalprice > 400000) AS o
      ON o.o_custkey = c_custkey
    UNION ALL
    SELECT s_name AS name, NULL AS tp FROM supplier
    """
    assert_matches_oracle(df, duck, oracle)


def test_values_placement_in_optional(engine, duck):
    """VALUES placement semantics (r4): INSIDE the block it constrains
    the block pre-join (customers always survive); OUTSIDE, on an
    optional var, SPARQL's compatibility rule keeps UNBOUND rows and
    drops bound mismatches (null-or-in, post-join)."""
    inner = q(
        """
        SELECT ?name ?tp WHERE {
            ?c a sa:Customer ; sa:name ?name .
            OPTIONAL { ?o a sa:Orders ; sa:customer ?c ; sa:totalprice ?tp ;
                          sa:orderpriority ?pr .
                       VALUES ?pr { "1-URGENT" "2-HIGH" } }
        }
        """
    )
    assert_matches_oracle(
        engine.sparql(inner),
        duck,
        """
        SELECT c_name AS name, o.o_totalprice AS tp
        FROM customer LEFT JOIN (
            SELECT * FROM orders
            WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')) AS o
          ON o.o_custkey = c_custkey
        """,
    )
    outer = q(
        """
        SELECT ?name ?tp WHERE {
            ?c a sa:Customer ; sa:name ?name .
            OPTIONAL { ?o a sa:Orders ; sa:customer ?c ; sa:totalprice ?tp ;
                          sa:orderpriority ?pr . }
            VALUES ?pr { "1-URGENT" "2-HIGH" }
        }
        """
    )
    df = engine.sparql(outer)
    assert_matches_oracle(
        df,
        duck,
        """
        SELECT name, tp FROM (
            SELECT c_name AS name, o.o_totalprice AS tp,
                   o.o_orderpriority AS pr
            FROM customer LEFT JOIN orders AS o ON o.o_custkey = c_custkey
        ) WHERE pr IS NULL OR pr IN ('1-URGENT', '2-HIGH')
        """,
    )
    # both placements bind rows
    for text in (inner, outer):
        assert len(engine.sparql(text).collect()) > 0


def test_values_in_optional_on_mandatory_var_rejected(engine):
    from sparkall_spark.plans.parser import SparqlParseError, parse_sparql

    with pytest.raises(SparqlParseError, match="mandatory star"):
        parse_sparql(
            q(
                """
            SELECT ?name WHERE {
                ?c a sa:Customer ; sa:name ?name ; sa:mktsegment ?seg .
                OPTIONAL { ?o a sa:Orders ; sa:customer ?c .
                           VALUES ?seg { "BUILDING" } }
            }
            """
            )
        )
