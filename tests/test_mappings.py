from pathlib import Path

from tests.conftest import assert_matches_oracle

from sparkall_spark.engine import Engine
from sparkall_spark.mappings import SourceCatalog, load_rml
from sparkall_spark.plans.model import Star, Triple

DATA = Path(__file__).parent / "data"
NS = "http://sparkall.io/ns/"


def test_load_rml_structure():
    idx = load_rml(DATA / "test_mappings.ttl")
    by_name = {m.name: m for m in idx.mappings}
    assert set(by_name) == {"Customer", "Nation"}
    c = by_name["Customer"]
    assert c.source_type == "parquet"
    assert c.source.endswith("customer.parquet")
    assert c.id_attr == "c_custkey"
    assert c.class_iri == NS + "Customer"
    assert c.predicates[NS + "name"] == "c_name"
    assert c.predicates[NS + "nation"] == "c_nationkey"


def test_rml_with_config_merge():
    catalog = SourceCatalog.from_json(DATA / "test_config.json")
    idx = load_rml(DATA / "test_mappings.ttl", catalog)
    by_name = {m.name: m for m in idx.mappings}
    assert by_name["Customer"].options.get("mergeSchema") == "false"
    assert by_name["Nation"].broadcast is True


def test_relevant_sources_set_containment():
    idx = load_rml(DATA / "test_mappings.ttl")
    star = Star(
        "c",
        [Triple("c", NS + "name", "n", True)],
        class_iri=NS + "Customer",
    )
    assert [m.name for m in idx.relevant_sources(star)] == ["Customer"]
    # a predicate nobody maps -> no relevant source
    star2 = Star("c", [Triple("c", NS + "nope", "x", True)], class_iri=None)
    assert idx.relevant_sources(star2) == []
    # without a class constraint, any covering mapping is relevant
    star3 = Star("s", [Triple("s", NS + "name", "x", True)])
    assert {m.name for m in idx.relevant_sources(star3)} == {"Customer", "Nation"}


def test_engine_from_rml_end_to_end(spark, duck):
    engine = Engine.from_rml(
        spark, DATA / "test_mappings.ttl", DATA / "test_config.json"
    )
    df = engine.sparql(
        f"""
        PREFIX sa: <{NS}>
        SELECT ?cname ?nname WHERE {{
            ?c a sa:Customer ; sa:name ?cname ; sa:nation ?n .
            ?n a sa:Nation ; sa:name ?nname .
        }}
        """
    )
    assert_matches_oracle(
        df,
        duck,
        """
        SELECT c_name AS cname, n_name AS nname
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        """,
    )


def test_parse_reference_style_rml(tmp_path):
    """The loader handles the reference's RML dialect (mappings.ttl
    shapes: nosql:store URIs, //Table sources, FnO blocks ignored)."""
    ttl = """
@prefix rr: <http://www.w3.org/ns/r2rml#>
@prefix rml: <http://semweb.mmlab.be/ns/rml#>
@prefix nosql: <http://purl.org/db/nosql#>
@prefix bsbm: <http://example.org/vocab/>
@prefix edm: <http://www.europeana.eu/schemas/edm/>

<#ProducerMapping>
	rml:logicalSource [
		rml:source "//Producer";
		nosql:store nosql:jdbc
	];
	rr:subjectMap [
		rr:template "http://example.com/{nr}";
		rr:class bsbm:Producer
	];
	rr:predicateObjectMap [
		rr:predicate edm:country;
		rr:objectMap [rml:reference "country"]
	].
"""
    p = tmp_path / "ref.ttl"
    p.write_text(ttl)
    idx = load_rml(p)
    (m,) = idx.mappings
    assert m.name == "Producer"
    assert m.source == "//Producer"
    assert m.source_type == "jdbc"
    assert m.id_attr == "nr"
    assert m.predicates == {"http://www.europeana.eu/schemas/edm/country": "country"}


def test_rml_fno_function_maps_parsed():
    """FunctionMap/FnO blocks (reference dialect, mappings_trans.ttl:
    133-151) resolve into per-predicate transform chains: the attribute
    comes from the first param ref, remaining refs become arguments."""
    import tempfile

    from sparkall_spark.fixtures import fno_mappings_ttl

    with tempfile.NamedTemporaryFile("w", suffix=".ttl", delete=False) as f:
        f.write(fno_mappings_ttl("/root/testdata/sf0.001"))
        path = f.name
    idx = load_rml(path)
    c = {m.name: m for m in idx.mappings}["Customer"]
    assert c.predicates[NS + "acctbal"] == "c_acctbal"
    assert c.transforms[NS + "acctbal"] == ("scl(+10)",)
    assert c.predicates[NS + "nation"] == "c_nationkey"
    assert c.transforms[NS + "nation"] == ("skp(3)",)


def test_rml_fno_unknown_function_warns_and_skips():
    import tempfile
    import warnings

    ttl = """
@prefix rr: <http://www.w3.org/ns/r2rml#>
@prefix rml: <http://semweb.mmlab.be/ns/rml#>
@prefix nosql: <http://purl.org/db/nosql#>
@prefix fnml: <http://semweb.mmlab.be/ns/fnml#>
@prefix fno: <https://example.com/fno/voc#>
@prefix grel: <https://example.com/grel/voc#>
@prefix sa: <http://sparkall.io/ns/>

<#ThingMapping>
	rml:logicalSource [
		rml:source "/tmp/t.parquet";
		nosql:store nosql:parquet
	];
	rr:subjectMap [
		rr:template "http://x/{id}";
		rr:class sa:Thing
	];
	rr:predicateObjectMap [
		rr:predicate sa:v;
		rr:objectMap [rml:reference <#FunctionMap>]
	].

<#FunctionMap>
 fnml:functionValue [
   rml:logicalSource "/tmp/t.parquet" ;
   rr:predicateObjectMap [
     rr:predicate fno:executes ;
     rr:objectMap [rr:constant grel:greaterThan] ] ;
   rr:predicateObjectMap [
     rr:predicate grel:valueParam1 ;
     rr:objectMap [rr:reference "person"]
   ] ;
 ] .
"""
    with tempfile.NamedTemporaryFile("w", suffix=".ttl", delete=False) as f:
        f.write(ttl)
        path = f.name
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        idx = load_rml(path)
    (m,) = idx.mappings
    # unsupported function: predicate dropped (reference maps it to ""),
    # but loudly, not silently
    assert NS + "v" not in m.transforms
    assert any("greaterThan" in str(w.message) for w in caught)


def test_rml_fno_param_order_is_natural_not_lexicographic():
    """grel:valueParam10 must sort AFTER valueParam2 (trailing-digit
    natural sort): lexicographic order would swap substitute()'s
    arguments."""
    import tempfile

    ttl = """
@prefix rr: <http://www.w3.org/ns/r2rml#>
@prefix rml: <http://semweb.mmlab.be/ns/rml#>
@prefix nosql: <http://purl.org/db/nosql#>
@prefix fnml: <http://semweb.mmlab.be/ns/fnml#>
@prefix fno: <https://example.com/fno/voc#>
@prefix grel: <https://example.com/grel/voc#>
@prefix sa: <http://sparkall.io/ns/>

<#ThingMapping>
	rml:logicalSource [
		rml:source "/tmp/t.parquet";
		nosql:store nosql:parquet
	];
	rr:subjectMap [
		rr:template "http://x/{id}";
		rr:class sa:Thing
	];
	rr:predicateObjectMap [
		rr:predicate sa:v;
		rr:objectMap [rml:reference <#FunctionMap>]
	].

<#FunctionMap>
 fnml:functionValue [
   rml:logicalSource "/tmp/t.parquet" ;
   rr:predicateObjectMap [
     rr:predicate fno:executes ;
     rr:objectMap [rr:constant grel:substitute] ] ;
   rr:predicateObjectMap [
     rr:predicate grel:valueParam10 ;
     rr:objectMap [rr:reference "NEW"]
   ] ;
   rr:predicateObjectMap [
     rr:predicate grel:valueParam2 ;
     rr:objectMap [rr:reference "OLD"]
   ] ;
   rr:predicateObjectMap [
     rr:predicate grel:valueParam1 ;
     rr:objectMap [rr:reference "attr"]
   ] ;
 ] .
"""
    with tempfile.NamedTemporaryFile("w", suffix=".ttl", delete=False) as f:
        f.write(ttl)
        path = f.name
    idx = load_rml(path)
    (m,) = idx.mappings
    assert m.predicates[NS + "v"] == "attr"
    assert m.transforms[NS + "v"] == ("substit(OLD,NEW)",)


def test_rml_fno_end_to_end_both_backends(spark, duck):
    """The mapping-file transform route must agree with the oracle
    (scan-time scl on acctbal, skp row filter on the nation FK)."""
    import tempfile

    from sparkall_spark.engine import Engine
    from sparkall_spark.fixtures import PREFIX_BLOCK, fno_mappings_ttl

    with tempfile.NamedTemporaryFile("w", suffix=".ttl", delete=False) as f:
        f.write(fno_mappings_ttl("/root/testdata/sf0.001"))
        path = f.name
    engine = Engine(spark, load_rml(path))
    q = (
        PREFIX_BLOCK
        + """
        SELECT ?cname ?bal ?nname WHERE {
            ?c a sa:Customer ; sa:name ?cname ; sa:acctbal ?bal ; sa:nation ?n .
            ?n a sa:Nation ; sa:name ?nname .
        }
        """
    )
    oracle = """
        SELECT c_name AS cname, c_acctbal + 10 AS bal, n_name AS nname
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        WHERE c_nationkey <> 3
    """
    assert_matches_oracle(engine.sparql(q), duck, oracle)
