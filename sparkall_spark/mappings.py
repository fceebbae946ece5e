"""Mappings: ontology classes/predicates -> concrete source attributes.

Two front-ends, one index:

- **Python-native**: construct :class:`EntityMapping` objects directly
  (the primary API — declarative dicts, trivially serializable).
- **RML Turtle**: :func:`load_rml` parses the RML subset the reference
  uses (reference files: evaluation/input_files/mappings.ttl — triple
  maps with ``rml:logicalSource [rml:source; nosql:store]``,
  ``rr:subjectMap [rr:template; rr:class]`` and repeated
  ``rr:predicateObjectMap [rr:predicate; rr:objectMap [rml:reference]]``;
  parsed by Jena in the reference, Mapper.scala:132-143 — re-implemented
  here as a small hand-rolled Turtle-subset reader).

Relevant-source detection (reference: Mapper.scala:93-135, which runs a
generated conjunctive SPARQL against the mapping model) is a plain
set-containment lookup here: a source is relevant to a star iff its
mapping covers *all* of the star's predicates (and its class when the
star has an rdf:type constraint).
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass, field
from pathlib import Path

from sparkall_spark.plans.model import Star


@dataclass
class EntityMapping:
    """Binding of one ontology entity to one concrete source."""

    name: str
    source: str
    source_type: str  # parquet|csv|json|orc|jdbc|mongodb|cassandra|elasticsearch|rdf
    id_attr: str
    predicates: dict[str, str]  # predicate IRI -> source attribute
    class_iri: str | None = None
    options: dict[str, str] = field(default_factory=dict)
    broadcast: bool = False  # planner hint: small dimension table
    # predicate IRI -> chain of transform-DSL functions (e.g. ("scl(+1)",))
    # applied to the bound attribute at scan time; populated by the
    # FnO/FunctionMap route of load_rml (reference: Mapper.scala:183-221)
    transforms: dict[str, tuple[str, ...]] = field(default_factory=dict)

    def covers(self, star: Star) -> bool:
        if star.class_iri is not None and self.class_iri is not None:
            if star.class_iri != self.class_iri:
                return False
        elif star.class_iri is not None and self.class_iri is None:
            return False
        return all(p in self.predicates for p in star.predicates)


class MappingIndex:
    def __init__(self, mappings: list[EntityMapping]):
        self.mappings = list(mappings)

    def relevant_sources(self, star: Star) -> list[EntityMapping]:
        """All mappings covering every predicate of the star.

        Multiple relevant sources for one star are legal — the lowering
        unions them (reference: SparkExecutor.scala:113-117).
        """
        return [m for m in self.mappings if m.covers(star)]

    def with_config(self, config: "SourceCatalog") -> "MappingIndex":
        """Merge per-source connection options from a config catalog."""
        out = []
        for m in self.mappings:
            entry = config.lookup(m.source, m.name)
            if entry:
                merged = dict(entry.options)
                merged.update(m.options)
                out.append(
                    EntityMapping(
                        m.name,
                        entry.source or m.source,
                        entry.type or m.source_type,
                        m.id_attr,
                        dict(m.predicates),
                        m.class_iri,
                        merged,
                        m.broadcast or entry.broadcast,
                        dict(m.transforms),
                    )
                )
            else:
                out.append(m)
        return MappingIndex(out)


# ---------------------------------------------------------------------------
# Source config (JSON) — reference: Play-JSON in Mapper.scala:60-84
# ---------------------------------------------------------------------------


@dataclass
class SourceEntry:
    type: str
    source: str
    entity: str
    options: dict[str, str] = field(default_factory=dict)
    broadcast: bool = False


class SourceCatalog:
    def __init__(self, entries: list[SourceEntry]):
        self.entries = entries

    @classmethod
    def from_json(cls, path: str | Path) -> "SourceCatalog":
        data = json.loads(Path(path).read_text())
        entries = [
            SourceEntry(
                type=s.get("type", ""),
                source=s.get("source", ""),
                entity=s.get("entity", ""),
                options={k: str(v) for k, v in s.get("options", {}).items()},
                broadcast=bool(s.get("broadcast", False)),
            )
            for s in data.get("sources", [])
        ]
        return cls(entries)

    def lookup(self, source: str, entity: str) -> SourceEntry | None:
        for e in self.entries:
            if e.source == source or e.entity == entity:
                return e
        return None


# ---------------------------------------------------------------------------
# Minimal Turtle-subset reader for RML mapping files
# ---------------------------------------------------------------------------

RR = "http://www.w3.org/ns/r2rml#"
RML = "http://semweb.mmlab.be/ns/rml#"
NOSQL = "http://purl.org/db/nosql#"

_TOKEN_RE = re.compile(
    r"""
      <[^>]*>                  # IRI
    | "(?:[^"\\]|\\.)*"        # string literal
    | \#[^\n]*                 # comment
    | [\[\];,.]                # punctuation
    | [^\s\[\];,]+             # prefixed name / keyword
    """,
    re.VERBOSE,
)


def _tokenize_ttl(text: str) -> list[str]:
    return [t for t in _TOKEN_RE.findall(text) if not t.startswith("#")]


class _TtlParser:
    """Recursive-descent reader for: prefixed blocks of
    ``subject pred obj (; pred obj)* .`` where obj may be ``[ ... ]``."""

    def __init__(self, text: str):
        self.prefixes: dict[str, str] = {}
        # strip @prefix lines first (they end with '.')
        body_lines = []
        for line in text.splitlines():
            s = line.strip()
            m = re.match(r"@prefix\s+([\w-]*):\s*<([^>]+)>", s)
            if m:
                self.prefixes[m.group(1)] = m.group(2)
            else:
                body_lines.append(line)
        self.toks = _tokenize_ttl("\n".join(body_lines))
        self.i = 0

    def _peek(self) -> str | None:
        return self.toks[self.i] if self.i < len(self.toks) else None

    def _next(self) -> str:
        tok = self.toks[self.i]
        self.i += 1
        return tok

    def _expand(self, tok: str) -> str:
        if tok.startswith("<") and tok.endswith(">"):
            return tok[1:-1]
        if tok.startswith('"'):
            return tok[1:-1]
        if ":" in tok:
            label, _, local = tok.partition(":")
            if label in self.prefixes:
                return self.prefixes[label] + local
        return tok

    def parse(self) -> dict[str, dict[str, list]]:
        """subject IRI -> {predicate IRI: [objects]} where an object is a
        str (IRI/literal) or a nested dict for ``[ ... ]`` blank nodes."""
        out: dict[str, dict[str, list]] = {}
        while self._peek() is not None:
            subj = self._expand(self._next())
            props = self._parse_predicate_objects(stop_at=".")
            out[subj] = props
            if self._peek() == ".":
                self._next()
        return out

    def _parse_predicate_objects(self, stop_at: str) -> dict[str, list]:
        props: dict[str, list] = {}
        while True:
            tok = self._peek()
            if tok is None or tok == stop_at:
                return props
            pred = self._expand(self._next())
            objs = props.setdefault(pred, [])
            while True:
                objs.append(self._parse_object())
                if self._peek() == ",":
                    self._next()
                    continue
                break
            if self._peek() == ";":
                self._next()
                # tolerate trailing ';' before the block end
                continue
            return props

    def _parse_object(self):
        tok = self._next()
        if tok == "[":
            inner = self._parse_predicate_objects(stop_at="]")
            assert self._next() == "]"
            return inner
        return self._expand(tok)


_TEMPLATE_ATTR_RE = re.compile(r"\{([^{}]+)\}")

FNML = "http://semweb.mmlab.be/ns/fnml#"

# grel function URI (by local name) -> transform-DSL function name; the
# reference's closed table is Helpers.scala:163-176 (getFunctionFromURI).
# Matched on the fragment so both the canonical users.ugent.be namespace
# and ad-hoc prefixes (the reference's own evaluation file declares
# grel: as example.com) resolve.
_GREL_FUNCTIONS = {
    "scale": "scl",
    "substitute": "substit",
    "skip": "skp",
    "replace": "replc",
    "prefix": "prefix",
    "postfix": "postfix",
    "toInt": "toInt",
}


def _local_name(iri: str) -> str:
    return re.split(r"[#/]", str(iri))[-1]


def _resolve_function_map(
    fmap_props: dict, source: str
) -> tuple[str, str] | None:
    """Resolve one ``<#FunctionMap>`` subject into (attribute, dsl_fn).

    Shape (reference: evaluation/input_files/mappings_trans.ttl:133-151,
    consumed by Mapper.scala:183-221): ``fnml:functionValue`` holds a
    blank node with a ``rml:logicalSource`` (must match the entity's
    source) and predicateObjectMaps — the one whose predicate is
    ``fno:executes`` names the grel function (``rr:constant``); the
    remaining POMs are parameters in predicate order, the first being
    the source attribute, the rest literal arguments.
    """
    fv = fmap_props.get(FNML + "functionValue", [None])[0]
    if not isinstance(fv, dict):
        return None
    fv_src = fv.get(RML + "logicalSource", [None])[0]
    if isinstance(fv_src, dict):  # tolerate [rml:source "..."] nesting
        fv_src = fv_src.get(RML + "source", [None])[0]
    if fv_src is not None and str(fv_src) != source:
        return None
    fn_uri = None
    params: list[tuple[str, str]] = []
    for pom in fv.get(RR + "predicateObjectMap", []):
        if not isinstance(pom, dict):
            continue
        pred = pom.get(RR + "predicate", [None])[0]
        om = pom.get(RR + "objectMap", [None])[0]
        if pred is None or not isinstance(om, dict):
            continue
        if _local_name(pred) == "executes":
            const = om.get(RR + "constant", [None])[0]
            if const is not None:
                fn_uri = str(const)
        else:
            ref = om.get(RML + "reference", om.get(RR + "reference", [None]))[0]
            if ref is not None:
                params.append((str(pred), str(ref)))
    if fn_uri is None or not params:
        return None
    fn = _GREL_FUNCTIONS.get(_local_name(fn_uri))
    if fn is None:
        import warnings

        warnings.warn(
            f"RML FunctionMap declares unsupported function {fn_uri!r}; "
            f"supported grel functions: {sorted(_GREL_FUNCTIONS)}",
            stacklevel=3,
        )
        return None
    # Natural sort on the trailing digits of the predicate local name:
    # lexicographic order puts valueParam10 before valueParam2, and mixed
    # param vocabularies (which the reference tolerates) would get
    # arbitrary order.  Un-numbered predicates fall back to document
    # order (stable sort preserves the POM sequence).
    def _param_key(kv: tuple[str, str]) -> tuple[int, int]:
        m = re.search(r"(\d+)$", _local_name(kv[0]))
        return (0, int(m.group(1))) if m else (1, 0)

    params.sort(key=_param_key)
    attr = params[0][1]
    args = [p for _, p in params[1:]]
    dsl = f"{fn}({','.join(args)})" if args else fn
    return attr, dsl


def load_rml(path: str | Path, config: SourceCatalog | None = None) -> MappingIndex:
    """Load an RML Turtle mapping file into a :class:`MappingIndex`.

    The subject template's sole ``{attr}`` placeholder becomes the
    entity's id attribute (reference extracts it the same way,
    Helpers.scala:120-152).
    """
    text = Path(path).read_text()
    parsed = _TtlParser(text).parse()
    mappings: list[EntityMapping] = []
    for subj, props in parsed.items():
        ls = props.get(RML + "logicalSource")
        sm = props.get(RR + "subjectMap")
        if not ls or not sm:
            continue
        ls0, sm0 = ls[0], sm[0]
        if not isinstance(ls0, dict) or not isinstance(sm0, dict):
            continue
        source = str(ls0.get(RML + "source", [""])[0])
        store = str(ls0.get(NOSQL + "store", [""])[0])
        source_type = store[len(NOSQL):] if store.startswith(NOSQL) else store
        template = str(sm0.get(RR + "template", ["{id}"])[0])
        tmpl_m = _TEMPLATE_ATTR_RE.search(template)
        id_attr = tmpl_m.group(1) if tmpl_m else "id"
        class_iri = sm0.get(RR + "class", [None])[0]
        predicates: dict[str, str] = {}
        transforms: dict[str, tuple[str, ...]] = {}
        for pom in props.get(RR + "predicateObjectMap", []):
            if not isinstance(pom, dict):
                continue
            pred = pom.get(RR + "predicate", [None])[0]
            om = pom.get(RR + "objectMap", [None])[0]
            if pred is None or not isinstance(om, dict):
                continue
            ref = om.get(RML + "reference", om.get(RR + "reference", [None]))[0]
            if ref is None:
                continue
            ref = str(ref)
            fmap = parsed.get(ref)
            if isinstance(fmap, dict) and FNML + "functionValue" in fmap:
                # FnO route: the objectMap references a <#FunctionMap>;
                # the bound attribute and transform come from its block
                resolved = _resolve_function_map(fmap, source)
                if resolved is None:
                    continue
                attr, dsl = resolved
                predicates[str(pred)] = attr
                transforms[str(pred)] = (dsl,)
            else:
                predicates[str(pred)] = ref
        name = subj.lstrip("#").replace("Mapping", "") or subj
        mappings.append(
            EntityMapping(name, source, source_type, id_attr, predicates,
                          class_iri if isinstance(class_iri, str) else None,
                          transforms=transforms)
        )
    idx = MappingIndex(mappings)
    return idx.with_config(config) if config else idx


# --- negated property paths (SPARQL 1.1 §9.1, r4) -------------------------

_NEG_TOKEN_RE = re.compile(
    r"!\((?P<group>[^()]*)\)|!(?P<single><[^>\s]+>|[A-Za-z_][\w-]*:[\w.-]+|a\b)"
)


def expand_negated_paths(query_text: str, index: "MappingIndex") -> str:
    """Rewrite negated property sets ``?s !p ?o`` / ``?s !(p1|p2) ?o``
    into positive alternations over the subject's entity predicates.

    SPARQL's open-world ``!(...)`` matches any predicate not listed; in
    the closed mapping model the candidate set is exactly the entity's
    mapped (non-rdf:type) predicates, so negation desugars to the
    alternation of the complement — and from there the ordinary path
    machinery (UNION-branch expansion) takes over, the lowering
    unchanged.

    Fragment restrictions (loud errors, not silent misses): the subject
    variable must carry an ``a <Class>`` triple in the same WHERE text
    (the class fixes the predicate set), and — inherited from the
    alternation expander — the rewrite is only legal in the top-level
    BGP.  Queries without a ``!`` token return unchanged at the cost of
    one regex scan.
    """
    if "!" not in query_text:
        return query_text
    from sparkall_spark.plans.parser import (
        SparqlParseError,
        _balanced,
        _expand_iri,
        _PREFIX_RE,
        _STRING_RE,
    )

    # mask string literals and FILTER/BIND parenthesized spans so a
    # boolean !(...) / !BOUND(...) is never mistaken for a path token
    chars = list(query_text)

    def blank(a: int, b: int) -> None:
        for i in range(a, b):
            chars[i] = " "

    for m in _STRING_RE.finditer(query_text):
        blank(m.start(), m.end())
    masked = "".join(chars)
    for m in re.finditer(r"\b(?:FILTER|BIND|HAVING)\b", masked, re.IGNORECASE):
        p = masked.find("(", m.end())
        if p >= 0 and masked[m.end() : p].strip() in (
            "", "regex", "rlike", "EXISTS", "NOT EXISTS",
        ):
            blank(p, _balanced(masked, p))
    masked = "".join(chars)

    hits = list(_NEG_TOKEN_RE.finditer(masked))
    if not hits:
        return query_text
    prefixes = {m.group(1): m.group(2) for m in _PREFIX_RE.finditer(query_text)}
    classes = {
        m.class_iri: m for m in index.mappings if m.class_iri is not None
    }

    out = query_text
    for hm in reversed(hits):
        # subject variable directly before the token (standalone form)
        sm = re.search(r"(\?[\w]+)\s*$", masked[: hm.start()])
        if not sm:
            raise SparqlParseError(
                "negated property path requires the standalone form "
                "'?s !(p1|p2) ?o'"
            )
        subj = re.escape(sm.group(1))
        type_tok = (
            r"(?:a|rdf:type|"
            r"<http://www\.w3\.org/1999/02/22-rdf-syntax-ns#type>)"
        )
        tm = re.search(
            subj + r"\b[^.{}]*?\s" + type_tok + r"\s+([^\s;.]+)", masked
        )
        if not tm:
            raise SparqlParseError(
                f"negated property path needs an 'a <Class>' triple for "
                f"{sm.group(1)} — the class fixes the predicate set the "
                "negation complements"
            )
        cls = _expand_iri(tm.group(1), prefixes)
        mapping = classes.get(cls)
        if mapping is None:
            raise SparqlParseError(f"no mapping for class {cls}")
        raw_items = (
            [t.strip() for t in hm.group("group").split("|")]
            if hm.group("group") is not None
            else [hm.group("single")]
        )
        negated = {_expand_iri(t, prefixes) for t in raw_items if t}
        allowed = [p for p in sorted(mapping.predicates) if p not in negated]
        if not allowed:
            raise SparqlParseError(
                f"negated path excludes every predicate of {cls}"
            )
        repl = (
            f"<{allowed[0]}>"
            if len(allowed) == 1
            else "(" + "|".join(f"<{p}>" for p in allowed) + ")"
        )
        out = out[: hm.start()] + repl + out[hm.end() :]
    return out
