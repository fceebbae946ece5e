"""Property paths (extension): sequence ``p1/p2`` and inverse ``^p``
desugar into fresh-variable triple chains at parse time, so stars,
planner and lowering see ordinary BGPs (no new lowering code).
"""

import pytest

from sparkall_spark import Engine
from sparkall_spark.fixtures import PREFIX_BLOCK, tpch_mappings
from sparkall_spark.plans.parser import SparqlParseError, parse_sparql
from tests.conftest import assert_matches_oracle


@pytest.fixture(scope="module")
def engine(spark, sf_dir):
    return Engine(spark, tpch_mappings(sf_dir))


def test_sequence_path_desugars_to_chain():
    q = parse_sparql(
        PREFIX_BLOCK
        + "SELECT ?rk WHERE { ?c a sa:Customer ; sa:nation/sa:region ?rk . }"
    )
    # intermediate star introduced, customer joins through it
    inter = [s for s in q.stars if s.startswith("__pp")]
    assert len(inter) == 1
    assert set(q.stars) == {"c", inter[0]}
    preds = {t.predicate.rsplit("/", 1)[-1] for t in q.stars[inter[0]].triples}
    assert preds == {"region"}


def test_inverse_path_swaps_roles():
    q = parse_sparql(
        PREFIX_BLOCK + "SELECT ?c WHERE { ?n a sa:Nation . ?n ^sa:nation ?c . }"
    )
    # ^sa:nation makes ?c the subject of the nation triple
    assert "c" in q.stars
    assert any(
        t.predicate.endswith("nation") and t.obj == "n"
        for t in q.stars["c"].triples
    )


def test_path_rejects_rdf_type_and_literal_object():
    with pytest.raises(SparqlParseError, match="rdf:type"):
        parse_sparql(
            PREFIX_BLOCK + "SELECT ?x WHERE { ?c a/sa:name ?x . }"
        )
    with pytest.raises(SparqlParseError, match="variable"):
        parse_sparql(
            PREFIX_BLOCK
            + 'SELECT ?c WHERE { ?c sa:nation/sa:name "FRANCE" . }'
        )


_SEQ_QUERY = (
    PREFIX_BLOCK
    + """
    SELECT ?cname ?rk WHERE {
        ?c a sa:Customer ; sa:name ?cname ; sa:nation/sa:region ?rk .
    }
    """
)

_SEQ_ORACLE = """
SELECT c_name AS cname, n_regionkey AS rk
FROM customer JOIN nation ON c_nationkey = n_nationkey
"""


def test_sequence_path_matches_oracle(engine, duck):
    assert_matches_oracle(engine.sparql(_SEQ_QUERY), duck, _SEQ_ORACLE)


def test_sequence_path_backends_agree(engine, duck):
    """Non-empty result, checked against the oracle."""
    a = sorted(map(tuple, engine.sparql(_SEQ_QUERY).collect()))
    assert len(a) > 0
    assert_matches_oracle(engine.sparql(_SEQ_QUERY), duck, _SEQ_ORACLE)


def test_inverse_path_matches_oracle(engine, duck):
    q = (
        PREFIX_BLOCK
        + """
        SELECT ?nname (COUNT(*) AS ?n) WHERE {
            ?n a sa:Nation ; sa:name ?nname .
            ?n ^sa:nation ?c .
            ?c a sa:Customer .
        } GROUP BY ?nname ORDER BY ?nname
        """
    )
    oracle = """
    SELECT n_name AS nname, count(*) AS n
    FROM nation JOIN customer ON c_nationkey = n_nationkey
    GROUP BY n_name ORDER BY nname
    """
    assert_matches_oracle(engine.sparql(q), duck, oracle, check_order=True)


def test_ask_query_form(engine):
    """ASK (extension): one boolean row, true iff solutions exist."""
    q_true = (
        PREFIX_BLOCK
        + 'ASK WHERE { ?p a sa:Part ; sa:size ?s . FILTER (?s > 30) }'
    )
    q_false = (
        PREFIX_BLOCK
        + 'ASK { ?p a sa:Part ; sa:size ?s . FILTER (?s > 1000000) }'
    )
    for q, expected in [(q_true, True), (q_false, False)]:
        rows = engine.sparql(q).collect()
        assert len(rows) == 1
        assert rows[0]["ask"] is expected, q


# --- alternation (a|b) and bounded closure +/*/{m,n} (r4) -----------------


def test_alternation_expands_to_union_branches():
    q = parse_sparql(
        PREFIX_BLOCK
        + "SELECT ?v WHERE { ?p a sa:Part ; (sa:name|sa:brand) ?v . }"
    )
    assert len(q.union_branches) == 1  # main + 1 branch
    preds = {
        t.predicate.rsplit("/", 1)[-1]
        for b in [q] + q.union_branches
        for t in b.stars["p"].triples
    }
    assert preds == {"name", "brand"}


def test_bounded_plus_expands_to_chains():
    q = parse_sparql(
        PREFIX_BLOCK
        + "SELECT ?y WHERE { ?x a sa:Nation . ?x sa:region{1,3} ?y . }"
    )
    branches = [q] + q.union_branches
    assert len(branches) == 3  # chains of length 1, 2, 3
    # chain k has k-1 intermediate __pp stars
    sizes = sorted(len([s for s in b.stars if s.startswith("__pp")])
                   for b in branches)
    assert sizes == [0, 1, 2]


def test_star_zero_branch_binds_subject():
    q = parse_sparql(
        PREFIX_BLOCK
        + "SELECT ?y WHERE { ?x a sa:Nation . ?x sa:region{0,1} ?y . }"
    )
    branches = [q] + q.union_branches
    assert len(branches) == 2
    zero = [b for b in branches if any(bd.alias == "y" for bd in b.binds)]
    assert len(zero) == 1  # zero-length branch: BIND(?x AS ?y)


def test_alternation_of_sequences_and_inverse_group():
    q = parse_sparql(
        PREFIX_BLOCK
        + "SELECT ?v WHERE { ?c a sa:Customer ; (sa:nation/sa:region|sa:acctbal) ?v . }"
    )
    assert len(q.union_branches) == 1
    # ^(a/b) == ^b/^a
    q2 = parse_sparql(
        PREFIX_BLOCK
        + "SELECT ?c WHERE { ?r a sa:Region . ?r ^(sa:nation/sa:region) ?c . }"
    )
    assert not q2.union_branches  # plain rewrite, no alternation


def test_path_special_rejected_inside_optional():
    with pytest.raises(SparqlParseError, match="top-level BGP"):
        parse_sparql(
            PREFIX_BLOCK
            + """
            SELECT ?name WHERE {
                ?c a sa:Customer ; sa:name ?name .
                OPTIONAL { ?c (sa:nation|sa:acctbal) ?v . }
            }
            """
        )


def test_path_branch_cap():
    with pytest.raises(SparqlParseError, match="branches"):
        parse_sparql(
            PREFIX_BLOCK
            + "SELECT ?y WHERE { ?x a sa:Nation . "
            "?x (sa:region|sa:name){1,8} ?y . }"
        )


def test_alternation_matches_oracle(engine, duck):
    q = (
        PREFIX_BLOCK
        + """
        SELECT ?v WHERE {
            ?p a sa:Part ; (sa:name|sa:brand) ?v .
        }
        """
    )
    oracle = """
    SELECT p_name AS v FROM part
    UNION ALL
    SELECT p_brand AS v FROM part
    """
    assert_matches_oracle(engine.sparql(q), duck, oracle)
    a = sorted(map(tuple, engine.sparql(q).collect()))
    assert len(a) > 0


@pytest.fixture(scope="module")
def tree_engine(spark, tmp_path_factory):
    """A self-referential hierarchy (node -> parent) — the shape +/*
    closure is for; the TPC-H fixtures have no self-FK."""
    import pandas as pd

    from sparkall_spark.fixtures import NS
    from sparkall_spark.mappings import EntityMapping, MappingIndex

    d = tmp_path_factory.mktemp("tree")
    # two perfect binary trees of depth 3 (15 nodes each); root's
    # parent is itself so every node has a parent row value
    rows = []
    for base in (0, 100):
        for i in range(15):
            parent = base + (i - 1) // 2 if i else base
            rows.append({"node_id": base + i, "parent_id": parent,
                         "label": f"n{base + i}"})
    path = str(d / "tree.parquet")
    pd.DataFrame(rows).to_parquet(path)
    m = EntityMapping(
        name="TreeNode", source=path, source_type="parquet",
        id_attr="node_id",
        predicates={NS + "parent": "parent_id", NS + "label": "label"},
        class_iri=NS + "TreeNode",
    )
    return Engine(spark, MappingIndex([m])), path


def test_bounded_closure_matches_recursive_cte(tree_engine):
    """p{1,3} against a DuckDB recursive-CTE oracle bounded at depth 3."""
    import duckdb

    engine, path = tree_engine
    q = (
        PREFIX_BLOCK
        + """
        SELECT ?x ?y WHERE {
            ?x a sa:TreeNode . ?x sa:parent{1,3} ?y .
        }
        """
    )
    con = duckdb.connect()
    con.execute(f"CREATE VIEW tree AS SELECT * FROM '{path}'")
    oracle = """
    WITH RECURSIVE up(x, y, depth) AS (
        SELECT node_id, parent_id, 1 FROM tree
        UNION ALL
        SELECT up.x, t.parent_id, up.depth + 1
        FROM up JOIN tree t ON up.y = t.node_id
        WHERE up.depth < 3
    )
    SELECT x, y FROM up
    """
    assert_matches_oracle(engine.sparql(q), con, oracle)
    a = sorted(map(tuple, engine.sparql(q).collect()))
    assert len(a) > 0
    con.close()


def test_star_closure_includes_zero_hop(tree_engine):
    """p{0,2}: the zero branch contributes (x, x) pairs."""
    import duckdb

    engine, path = tree_engine
    q = (
        PREFIX_BLOCK
        + """
        SELECT ?x ?y WHERE {
            ?x a sa:TreeNode . ?x sa:parent{0,2} ?y .
        }
        """
    )
    con = duckdb.connect()
    con.execute(f"CREATE VIEW tree AS SELECT * FROM '{path}'")
    oracle = """
    SELECT node_id AS x, node_id AS y FROM tree
    UNION ALL
    SELECT node_id AS x, parent_id AS y FROM tree
    UNION ALL
    SELECT t1.node_id AS x, t2.parent_id AS y
    FROM tree t1 JOIN tree t2 ON t1.parent_id = t2.node_id
    """
    assert_matches_oracle(engine.sparql(q), con, oracle)
    con.close()


def test_ask_over_union(engine):
    """ASK over UNION: true iff ANY branch has a solution (r4; the
    union early-return previously bypassed the ask probe)."""
    q_true = (
        PREFIX_BLOCK
        + """
        ASK WHERE {
            { ?p a sa:Part ; sa:size ?s . FILTER (?s > 1000000) }
            UNION
            { ?c a sa:Customer ; sa:acctbal ?b . FILTER (?b > 9000) }
        }
        """
    )
    q_false = (
        PREFIX_BLOCK
        + """
        ASK WHERE {
            { ?p a sa:Part ; sa:size ?s . FILTER (?s > 1000000) }
            UNION
            { ?c a sa:Customer ; sa:acctbal ?b . FILTER (?b > 1000000000) }
        }
        """
    )
    for q, expected in [(q_true, True), (q_false, False)]:
        rows = engine.sparql(q).collect()
        assert len(rows) == 1
        assert rows[0]["ask"] is expected, expected


def test_or_filter_desugars_to_in(engine, duck):
    q = (
        PREFIX_BLOCK
        + """
        SELECT ?name ?size WHERE {
            ?p a sa:Part ; sa:name ?name ; sa:size ?size .
            FILTER (?size = 1 || ?size = 7 || ?size = 42)
        }
        """
    )
    oracle = """
    SELECT p_name AS name, p_size AS size FROM part
    WHERE p_size IN (1, 7, 42)
    """
    assert_matches_oracle(engine.sparql(q), duck, oracle)


def test_or_filter_rejects_mixed_shapes():
    with pytest.raises(SparqlParseError, match="share one variable"):
        parse_sparql(
            PREFIX_BLOCK
            + "SELECT ?p WHERE { ?p a sa:Part ; sa:size ?s ; sa:retailprice ?r ."
            + " FILTER (?s = 1 || ?r = 2) }"
        )
    with pytest.raises(SparqlParseError, match="&&"):
        parse_sparql(
            PREFIX_BLOCK
            + "SELECT ?p WHERE { ?p a sa:Part ; sa:size ?s ."
            + " FILTER (?s = 1 || ?s = 2 && ?s = 3) }"
        )


def test_var_to_var_filter(engine, duck):
    """FILTER (?a < ?b) across stars: applied post-join."""
    q = (
        PREFIX_BLOCK
        + """
        SELECT ?name ?disc ?tax WHERE {
            ?l a sa:Lineitem ; sa:discount ?disc ; sa:tax ?tax ; sa:part ?p .
            ?p a sa:Part ; sa:name ?name .
            FILTER (?disc < ?tax)
        }
        """
    )
    oracle = """
    SELECT p_name AS name, l_discount AS disc, l_tax AS tax
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_discount < l_tax
    """
    assert_matches_oracle(engine.sparql(q), duck, oracle)
    a = sorted(map(tuple, engine.sparql(q).collect()))
    assert len(a) > 0


def test_zero_or_one_quantifier(tree_engine):
    """p? == p{0,1} (SPARQL 1.1 §9.1, r4): two branches, one of which
    is the zero-length BIND; oracle = self UNION parent edges."""
    import duckdb

    engine, path = tree_engine
    q = parse_sparql(
        PREFIX_BLOCK
        + "SELECT ?y WHERE { ?x a sa:TreeNode . ?x sa:parent? ?y . }"
    )
    branches = [q] + q.union_branches
    assert len(branches) == 2
    assert sum(1 for b in branches if any(bd.alias == "y" for bd in b.binds)) == 1

    full = (
        PREFIX_BLOCK
        + "SELECT ?x ?y WHERE { ?x a sa:TreeNode . ?x sa:parent? ?y . }"
    )
    con = duckdb.connect()
    con.execute(f"CREATE VIEW tree AS SELECT * FROM '{path}'")
    oracle = """
    SELECT node_id AS x, node_id AS y FROM tree
    UNION ALL
    SELECT node_id AS x, parent_id AS y FROM tree
    """
    assert_matches_oracle(engine.sparql(full), con, oracle)
    a = sorted(map(tuple, engine.sparql(full).collect()))
    assert len(a) > 0
    con.close()


def test_zero_or_one_does_not_eat_variables():
    """The '?' quantifier must not misread '?var' tokens: a plain
    triple with variables parses unchanged."""
    q = parse_sparql(
        PREFIX_BLOCK
        + "SELECT ?x ?y WHERE { ?x a sa:Nation ; sa:name ?y . }"
    )
    assert q.union_branches == []


# --- r4: negated property sets !p / !(p1|p2) ------------------------------


def test_negated_path_single_complement(engine, duck):
    """!sa:region on a Nation star: the complement is exactly {name},
    so the rewrite is a plain positive triple — oracle-checked."""
    q = (
        PREFIX_BLOCK
        + "SELECT ?n ?o WHERE { ?n a sa:Nation . ?n !sa:region ?o . }"
    )
    oracle = "SELECT n_nationkey AS n, n_name AS o FROM nation"
    assert_matches_oracle(engine.sparql(q), duck, oracle)
    a = sorted(map(tuple, engine.sparql(q).collect()))
    assert len(a) == 25


def test_negated_path_group_becomes_alternation(engine, duck):
    """!(sa:nation|sa:acctbal) on Customer complements to
    (name|mktsegment) — a UNION over the remaining predicates."""
    q = (
        PREFIX_BLOCK
        + """
        SELECT ?c ?o WHERE {
            ?c a sa:Customer .
            ?c !(sa:nation|sa:acctbal) ?o .
        }
        """
    )
    oracle = """
    SELECT c_custkey AS c, c_name AS o FROM customer
    UNION ALL
    SELECT c_custkey, c_mktsegment FROM customer
    """
    assert_matches_oracle(engine.sparql(q), duck, oracle)
    a = sorted(map(tuple, engine.sparql(q).collect()))
    assert len(a) == 2 * 150


def test_negated_path_leaves_boolean_negation_alone(engine, duck):
    """FILTER (!(...)) and !BOUND are expression negation, not paths —
    the rewriter must not touch them."""
    q = (
        PREFIX_BLOCK
        + """
        SELECT ?name WHERE {
            ?c a sa:Customer ; sa:name ?name ; sa:acctbal ?bal .
            FILTER (!(?bal > 1000))
        }
        """
    )
    oracle = "SELECT c_name AS name FROM customer WHERE NOT c_acctbal > 1000"
    assert_matches_oracle(engine.sparql(q), duck, oracle)


def test_negated_path_validation(engine):
    from sparkall_spark.plans.parser import SparqlParseError

    with pytest.raises(SparqlParseError, match="a <Class>"):
        engine.sparql(
            PREFIX_BLOCK + "SELECT ?o WHERE { ?x !sa:name ?o . }"
        )
    with pytest.raises(SparqlParseError, match="excludes every predicate"):
        engine.sparql(
            PREFIX_BLOCK
            + "SELECT ?o WHERE { ?n a sa:Region . ?n !sa:name ?o . }"
        )


def test_negated_path_with_full_type_iri(engine, duck):
    """The class triple may use the full rdf:type IRI, not just 'a'."""
    q = (
        PREFIX_BLOCK
        + "SELECT ?n ?o WHERE { "
        "?n <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> sa:Nation . "
        "?n !sa:region ?o . }"
    )
    oracle = "SELECT n_nationkey AS n, n_name AS o FROM nation"
    assert_matches_oracle(engine.sparql(q), duck, oracle)
