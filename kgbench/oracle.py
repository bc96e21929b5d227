"""Independent oracles for the benchmark's outputs.

KG construction (kg_build, kg_incremental): the pure-Python algorithms
of ``tests/oracle.py`` (label scan, imperative cascade, union-find),
composed into the full golden triple set the same way the pipeline's
pytest golden is.

Reasoning (kg_reason): a naive forward-chaining RDFS-Plus fixpoint over
Python sets, checked against closed-form closure counts of the
generated tree; union-find for ``owl:sameAs``; a fixpoint of the
``someValuesFrom`` rule; NumPy PageRank; and DuckDB for the SPARQL
results.
"""

from __future__ import annotations

from collections import Counter

import numpy as np

from sifr_project_java_ontology_processing_spark.functions.uris import (
    OWL_SAMEAS,
    RDF_TYPE,
    RDFS_SUBCLASSOF,
    SIFR_MENTION,
    SKOS_BROADER,
    SKOS_CHANGE_NOTE,
    SKOS_CONCEPT,
    SKOS_NOTATION,
    STY_BASE,
    UMLS_CUI,
    UMLS_HAS_STY,
    UMLS_TUI,
    expand,
)
from sifr_project_java_ontology_processing_spark.plans.kg_pipeline import (
    CUI_ADDED_NOTE,
    EQUIVALENCE_PROPERTIES,
)
from tests.oracle import _norm, cascade_oracle, mentions_oracle, union_find_oracle

from inputs import (
    OWL_INVERSE_OF,
    OWL_ON_PROPERTY,
    OWL_SOME_VALUES,
    OWL_TRANSITIVE,
    RDFS_RANGE,
    tree_parent,
)

# ---------------------------------------------------------------------------
# KG construction
# ---------------------------------------------------------------------------


def _label_index(labels) -> tuple[list[frozenset], dict[str, list[int]]]:
    """Each label's token set, and label positions keyed by the label's
    rarest token. A label can only match a page holding all its tokens,
    so each page hands ``mentions_oracle`` just those labels, in their
    original order (the oracle breaks kind ties by order)."""
    toks = [frozenset(t for t in (_norm(x) for x in row[1].split()) if t) for row in labels]
    freq = Counter(t for ts in toks for t in ts)
    idx: dict[str, list[int]] = {}
    for i, ts in enumerate(toks):
        if ts:
            idx.setdefault(min(ts, key=lambda t: (freq[t], t)), []).append(i)
    return toks, idx


def golden_triples(fx) -> set[tuple[str, str, str]]:
    """Golden (subj, pred, obj) set of ``run_kg_pipeline`` with
    ``disambiguate_cuis=False`` over the fixture."""
    uf = union_find_oracle(
        [(s, t) for (s, p, t) in fx.mappings if p in EQUIVALENCE_PROPERTIES]
    )

    def canon(x):
        return uf.get(x, x)

    out: set[tuple[str, str, str]] = set()
    for c in {c for (c, _l, _k, _g) in fx.ontology_labels}:
        out.add((canon(c), RDF_TYPE, SKOS_CONCEPT))
    labels = fx.ontology_labels
    toks, idx = _label_index(labels)
    for url, _ts, _html, text, _lang in fx.pages:
        present = {_norm(x) for x in text.split()}
        cands = sorted(i for t in present for i in idx.get(t, ()) if toks[i] <= present)
        for _i, c, _n in mentions_oracle(text, [labels[i] for i in cands]):
            out.add((url, SIFR_MENTION, canon(c)))
    hier = {expand("skos:broadMatch"), expand("skos:broader")}
    for s, p, t in fx.mappings:
        if p in hier and canon(s) != canon(t):
            out.add((canon(s), RDFS_SUBCLASSOF, canon(t)))
    has_notation = {c for (c, _l, k, _g) in fx.ontology_labels if k == "notation"}
    for c, (code, cuis, stage, tuis, _ts) in cascade_oracle(fx).items():
        for cui in cuis:
            out.add((canon(c), UMLS_CUI, cui))
        for tui in tuis:
            out.add((canon(c), UMLS_TUI, tui))
            out.add((canon(c), UMLS_HAS_STY, f"{STY_BASE}{tui}/"))
        if code is not None and c not in has_notation:
            out.add((canon(c), SKOS_NOTATION, code))
        if cuis and stage != "own_cui":
            out.add((canon(c), SKOS_CHANGE_NOTE, CUI_ADDED_NOTE))
    return out


def golden_nodes(fx) -> set[tuple[str, str]]:
    """(iri, canonical_iri) for every concept of the ontology."""
    uf = union_find_oracle(
        [(s, t) for (s, p, t) in fx.mappings if p in EQUIVALENCE_PROPERTIES]
    )
    return {(c, uf.get(c, c)) for (c, _l, _k, _g) in fx.ontology_labels}


def precision_recall(got: set, want: set) -> tuple[float, float]:
    tp = len(got & want)
    return (tp / len(got) if got else 1.0), (tp / len(want) if want else 1.0)


# ---------------------------------------------------------------------------
# Reasoning
# ---------------------------------------------------------------------------

RDFS_SUBPROPERTYOF = expand("rdfs:subPropertyOf")
RDFS_DOMAIN = expand("rdfs:domain")
OWL_SYMMETRIC = expand("owl:SymmetricProperty")
_UNSUPPORTED = {expand("owl:equivalentClass"), expand("owl:equivalentProperty"),
                expand("owl:hasValue"), expand("owl:allValuesFrom")}


def _pairs(g: set, pred: str) -> dict[str, set[str]]:
    out: dict[str, set[str]] = {}
    for s, p, o, lit in g:
        if p == pred and not lit:
            out.setdefault(s, set()).add(o)
    return out


def rdfs_plus(triples: set) -> set:
    """Naive fixpoint of rdfs2/3/5/7/9/11 plus owl:inverseOf,
    owl:SymmetricProperty and owl:TransitiveProperty: every rule is
    applied to every triple until a round derives nothing new."""
    g = set(triples)
    assert not any(p in _UNSUPPORTED for _s, p, _o, _l in g), "rule outside the oracle"
    while True:
        sp, sc = _pairs(g, RDFS_SUBPROPERTYOF), _pairs(g, RDFS_SUBCLASSOF)
        dom, rng = _pairs(g, RDFS_DOMAIN), _pairs(g, RDFS_RANGE)
        inv = _pairs(g, OWL_INVERSE_OF)
        for p, qs in list(inv.items()):
            for q in qs:
                inv.setdefault(q, set()).add(p)
        typed = _pairs(g, RDF_TYPE)
        sym = {p for p, cs in typed.items() if OWL_SYMMETRIC in cs}
        trans = {p for p, cs in typed.items() if OWL_TRANSITIVE in cs}
        succ = {p: _pairs(g, p) for p in trans}
        new = set()
        for s, p, o, lit in g:
            for q in sp.get(p, ()):
                new.add((s, q, o, lit))
            for c in dom.get(p, ()):
                new.add((s, RDF_TYPE, c, False))
            if lit:
                continue
            for c in rng.get(p, ()):
                new.add((o, RDF_TYPE, c, False))
            for q in inv.get(p, ()):
                new.add((o, q, s, False))
            if p in sym:
                new.add((o, p, s, False))
            if p in trans:
                for z in succ[p].get(o, ()):
                    new.add((s, p, z, False))
            if p in (RDF_TYPE, RDFS_SUBCLASSOF):
                for d in sc.get(o, ()):
                    new.add((s, p, d, False))
            if p == RDFS_SUBPROPERTYOF:
                for d in sp.get(o, ()):
                    new.add((s, p, d, False))
        new -= g
        if not new:
            return g
        g |= new


def tree_closure_pairs(n_concepts: int) -> int:
    """Closed form: in a tree every node reaches each of its ancestors
    once, so the closure of the broader tree has sum(depth) pairs."""
    depth = [0] * n_concepts
    for i in range(1, n_concepts):
        depth[i] = depth[tree_parent(i)] + 1
    return sum(depth)


def sameas_consolidate(g: set) -> set:
    """eq-rep-s/p/o as one rewrite by union-find canonicals (min IRI of
    each component); sameAs triples themselves are dropped."""
    uf = union_find_oracle(
        [(s, o) for s, p, o, lit in g if p == OWL_SAMEAS and not lit and s != o]
    )

    def c(x):
        return uf.get(x, x)

    return {(c(s), c(p), o if lit else c(o), lit) for s, p, o, lit in g if p != OWL_SAMEAS}


def restrictions(g: set) -> set:
    """cls-svf1/svf2 to fixpoint (the only restriction rules the
    generated schema uses)."""
    on = {s: o for s, p, o, lit in g if p == OWL_ON_PROPERTY}
    svf = [(r, on[r], d) for r, p, d, lit in g if p == OWL_SOME_VALUES and r in on]
    thing = expand("owl:Thing")
    g = set(g)
    while True:
        types = _pairs(g, RDF_TYPE)
        new = set()
        for r, prop, d in svf:
            for s, p, o, lit in g:
                if p == prop and not lit and (d == thing or d in types.get(o, ())):
                    new.add((s, RDF_TYPE, r, False))
        new -= g
        if not new:
            return g
        g |= new


def pagerank(g: set, iterations: int, damping: float = 0.85) -> dict[str, float]:
    """The engine's PageRank definition: rank_0 = 1; every node gets
    (1-d) + d * sum(rank(m) / outdeg(m)) over its in-edges, one edge per
    non-literal triple."""
    edges = [(s, o) for s, _p, o, lit in g if not lit]
    nodes = sorted({x for e in edges for x in e})
    ix = {n: i for i, n in enumerate(nodes)}
    src = np.array([ix[s] for s, _ in edges])
    dst = np.array([ix[d] for _, d in edges])
    deg = np.bincount(src, minlength=len(nodes)).astype(float)
    r = np.ones(len(nodes))
    for _ in range(iterations):
        inc = np.zeros(len(nodes))
        np.add.at(inc, dst, r[src] / deg[src])
        r = (1.0 - damping) + damping * inc
    return dict(zip(nodes, r.tolist()))


def duckdb_rows(g: set, sql: str) -> set[tuple]:
    """Run ``sql`` over table ``t(subj, pred, obj, lit)`` in DuckDB."""
    import duckdb
    import pyarrow as pa

    cols = list(zip(*g))
    tbl = pa.table({
        "subj": pa.array(cols[0], pa.string()),
        "pred": pa.array(cols[1], pa.string()),
        "obj": pa.array(cols[2], pa.string()),
        "lit": pa.array(cols[3], pa.bool_()),
    })
    con = duckdb.connect()
    try:
        con.register("t", tbl)
        return {tuple(r) for r in con.execute(sql).fetchall()}
    finally:
        con.close()


def broader_pairs(g: set) -> int:
    return sum(1 for _s, p, _o, lit in g if p == SKOS_BROADER and not lit)
