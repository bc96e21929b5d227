"""The materialization primitive and the driver/distributed hybrids.

* A source scan keeps ``operators/materialize.py`` the only module
  that checkpoints.
* Differential tests on random small graphs (cycles, self-loops,
  diamonds, a ``max_depth`` cut) prove each hybrid's driver branch
  equal to its distributed branch or to a plain-Python oracle.
"""

from __future__ import annotations

import pathlib

from hypothesis import given, settings
from hypothesis import strategies as st

from sifr_project_java_ontology_processing_spark.operators.graph import (
    transitive_closure,
)
from sifr_project_java_ontology_processing_spark.operators.inference import (
    RDFS_SUBCLASSOF,
    _schema_closure,
)
from sifr_project_java_ontology_processing_spark.operators.materialize import (
    collect_if_small,
)

from .test_canonicalize import _check as _check_cc

ROOT = pathlib.Path(__file__).resolve().parents[1]
PKG = ROOT / "sifr_project_java_ontology_processing_spark"

NODES = "abcdefg"


def test_only_materialize_module_checkpoints():
    call = ".localCheckpoint("
    retired = "materialize" + "_once"
    offenders = [
        str(p.relative_to(ROOT))
        for p in PKG.rglob("*.py")
        if call in p.read_text() and p != PKG / "operators" / "materialize.py"
    ]
    assert offenders == []
    sources = [
        *PKG.rglob("*.py"),
        *(ROOT / "tests").rglob("*.py"),
        *(ROOT / "scripts").rglob("*.py"),
        *ROOT.glob("*.py"),
    ]
    assert [str(p) for p in sources if retired in p.read_text()] == []


def test_collect_if_small_boundary(spark):
    df = spark.range(5)
    assert sorted(r.id for r in collect_if_small(df, 5)) == [0, 1, 2, 3, 4]
    assert collect_if_small(df, 4) is None
    assert collect_if_small(spark.range(0), 0) == []


@st.composite
def small_graphs(draw):
    """Random edges over seven nodes, plus optional motifs: a cycle, a
    diamond and a self-loop. Duplicate edges are kept."""
    node = st.sampled_from(NODES)
    edges = draw(st.lists(st.tuples(node, node), max_size=10))
    if draw(st.booleans()):
        ring = draw(st.lists(node, min_size=2, max_size=5, unique=True))
        edges += list(zip(ring, ring[1:] + ring[:1]))
    if draw(st.booleans()):
        a, b, c, d = draw(st.permutations(NODES))[:4]
        edges += [(a, b), (a, c), (b, d), (c, d)]
    if draw(st.booleans()):
        n = draw(node)
        edges.append((n, n))
    return edges


def _reachable(edges, max_depth):
    """(a, c) pairs with a path of 1..max_depth hops, by per-node BFS."""
    adj: dict[str, set[str]] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
    out = set()
    for s in adj:
        frontier, seen = {s}, set()
        for _ in range(max_depth):
            frontier = {c for b in frontier for c in adj.get(b, ())} - seen
            if not frontier:
                break
            seen |= frontier
        out |= {(s, c) for c in seen}
    return out


@settings(max_examples=6, deadline=None)
@given(small_graphs(), st.one_of(st.none(), st.integers(1, 3)))
def test_transitive_closure_driver_equals_distributed(spark, edges, max_depth):
    df = spark.createDataFrame(edges, "src string, dst string")

    def closure(threshold):
        out = transitive_closure(
            df, max_depth=max_depth, partitions=2, driver_threshold=threshold
        )
        return sorted(tuple(r) for r in out.collect())

    driver = closure(None)
    assert driver == closure(0)
    assert {(a, c) for a, c, _ in driver} == _reachable(edges, max_depth or 1000)


@settings(max_examples=20, deadline=None)
@given(small_graphs(), st.integers(1, 6))
def test_schema_closure_equals_python_oracle(spark, edges, max_depth):
    rows = [(a, RDFS_SUBCLASSOF, b, None, False) for a, b in edges]
    # neither a literal object nor another predicate is a schema edge
    rows += [("f", RDFS_SUBCLASSOF, "g", None, True), ("g", "ex:p", "f", None, False)]
    triples = spark.createDataFrame(
        rows,
        "subj string, pred string, obj string, obj_lang string, "
        "obj_is_literal boolean",
    )
    closed = _schema_closure(triples, RDFS_SUBCLASSOF, max_depth=max_depth)
    got = [tuple(r) for r in closed.collect()]
    assert len(got) == len(set(got))  # distinct without a .distinct()
    # self-loops are dropped before closing; cycles still derive (a, a)
    assert set(got) == _reachable([e for e in edges if e[0] != e[1]], max_depth)


@settings(max_examples=5, deadline=None)
@given(small_graphs())
def test_connected_components_driver_equals_distributed(spark, edges):
    _check_cc(spark, edges)
