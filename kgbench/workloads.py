"""The three benchmark workloads.

Each workload generates its inputs from the seed and computes its
oracle in ``setup``, runs one complete operation per ``iterate`` (the
timed unit: inputs in, tables written or snapshots committed), checks
an iteration's outputs against the oracle in ``check`` (never timed),
and runs one traced iteration in ``traced``, which times each layer by
calling its public functions from here and materializing each boundary.
"""

from __future__ import annotations

import os

import pyarrow.dataset as ds
from pyspark.sql import functions as F

import inputs
import oracle
from sifr_project_java_ontology_processing_spark.functions.uris import SIFR_MENTION, SKOS_BROADER
from sifr_project_java_ontology_processing_spark.operators import canonicalize as canon_mod
from sifr_project_java_ontology_processing_spark.operators import cascade as cascade_mod
from sifr_project_java_ontology_processing_spark.operators import graph as graph_mod
from sifr_project_java_ontology_processing_spark.operators import inference
from sifr_project_java_ontology_processing_spark.operators.extraction import extract_pages
from sifr_project_java_ontology_processing_spark.operators.mentions import detect_mentions
from sifr_project_java_ontology_processing_spark.plans import bgp
from sifr_project_java_ontology_processing_spark.plans.kg_pipeline import (
    EQUIVALENCE_PROPERTIES,
    run_kg_pipeline,
    run_kg_pipeline_incremental,
)
from sifr_project_java_ontology_processing_spark.sources import graph_sink
from sifr_project_java_ontology_processing_spark.sources.stage_store import StageStore

_DIMS = ("ontology_labels", "mappings", "umls_concepts", "umls_semtypes",
         "own_cuis", "target_cuis", "own_tuis")


def read_rows(path: str, columns: list[str]) -> list[tuple]:
    """Rows of a parquet table written by Spark, read with pyarrow."""
    t = ds.dataset(path, format="parquet", partitioning="hive").to_table(columns=columns)
    return list(zip(*(t.column(c).to_pylist() for c in columns)))


def tree_bytes_files(path: str) -> tuple[int, int]:
    n_bytes = n_files = 0
    for d, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n_bytes += os.path.getsize(os.path.join(d, f))
                n_files += 1
    return n_bytes, n_files


class _Check:
    """Outcome of one oracle check."""

    def __init__(self, got: set, want: set, extra_ok: bool = True, why: str = ""):
        self.precision, self.recall = oracle.precision_recall(got, want)
        self.ok = got == want and extra_ok
        self.n_out = len(got)
        self.why = why if not extra_ok else (
            "" if got == want else f"missing={len(want - got)} extra={len(got - want)}")


# ---------------------------------------------------------------------------
# kg_build / kg_incremental
# ---------------------------------------------------------------------------


class _Pipeline:
    # untimed iterations before the window, counted in setup_s, as
    # (input size, count). Full size unless a workload shows a toy-size
    # warm-up suffices: after toy iterations, kg_reason's first full one
    # still ran ~40% slower than settled ones (its plans change shape
    # with the input size).
    warmup = (("full", 1),)

    def __init__(self, spark, seed: int, work: str, size: dict):
        self.spark, self.seed, self.work, self.size = spark, seed, work, size
        self.inp = f"{work}/in"

    def _read_dims(self) -> dict:
        return {k: self.spark.read.parquet(f"{self.inp}/{k}") for k in _DIMS}

    def _kwargs(self) -> dict:
        d = self.dims
        return dict(own_cuis=d["own_cuis"], own_tuis=d["own_tuis"],
                    target_cuis=d["target_cuis"], disambiguate_cuis=False)

    def _dim_args(self) -> tuple:
        d = self.dims
        return (d["ontology_labels"], d["mappings"], d["umls_concepts"], d["umls_semtypes"])

    def _check_graph(self, triples_path: str, nodes_path: str, edges_path: str | None) -> _Check:
        got = {(s, p, o) for s, p, o in read_rows(triples_path, ["subj", "pred", "obj"])}
        extra_ok, why = True, ""
        nodes = set(read_rows(nodes_path, ["iri", "canonical_iri"]))
        if nodes != self.golden_nodes:
            extra_ok, why = False, "nodes table differs from the oracle"
        if edges_path is not None:
            edges = set(read_rows(edges_path, ["src", "pred", "dst"]))
            want_e = {(s, p, o) for s, p, o, lit in read_rows(
                triples_path, ["subj", "pred", "obj", "obj_is_literal"]) if not lit}
            if edges != want_e:
                extra_ok, why = False, "edges table differs from the triples table"
        return _Check(got, self.golden, extra_ok, why)

    # layer spans shared by both pipeline workloads: the dimension-side
    # operators, called the way run_kg_pipeline calls them
    def _trace_dims(self, tr, m: dict) -> None:
        labels, mappings, umls_c, umls_s = self._dim_args()
        kw = self._kwargs()
        with tr.span("cascade"):
            classes = labels.select("concept_iri").distinct()
            c = cascade_mod.cui_cascade(classes, labels, mappings, umls_c,
                                        own_cuis=kw["own_cuis"], target_cuis=kw["target_cuis"])
            c = cascade_mod.tui_cascade(c, mappings, umls_s, own_tuis=kw["own_tuis"])
            row = c.agg(F.count(F.lit(1)).alias("n"),
                        F.sum((F.size("cuis") > 0).cast("int")).alias("r")).first()
        m["cascade.rows_out"] = row["n"]
        m["cascade.resolved_ratio"] = row["r"] / row["n"] if row["n"] else 0.0
        with tr.span("canonical"):
            all_iris = labels.select(F.col("concept_iri").alias("iri")).distinct()
            m["canonical.rows_out"] = canon_mod.canonical_mapping(
                mappings, EQUIVALENCE_PROPERTIES, all_iris).count()


class KGBuild(_Pipeline):
    """Full ``run_kg_pipeline`` (fused extract_and_detect, no store)
    writing triples, edges and nodes through the graph-table sink."""

    name = "kg_build"
    # toy-size iterations warm the JIT and plan caches for the full
    # input: on a 4-core host the first full iteration took 12.4 s after
    # one toy iteration and 9.8 s after three, as settled ones do
    warmup = (("toy", 2),)

    def setup(self) -> None:
        fx = inputs.make_corpus(self.size["pages"], self.size["concepts"], self.seed)
        inputs.write_pages(fx.pages, f"{self.inp}/pages", n_files=8)
        inputs.write_dims(fx, self.inp)
        self.golden = oracle.golden_triples(fx)
        self.golden_nodes = oracle.golden_nodes(fx)
        self.n_pages, self.n_labels = len(fx.pages), len(fx.ontology_labels)
        self.pages = self.spark.read.parquet(f"{self.inp}/pages")
        self.dims = self._read_dims()

    def _run(self):
        return run_kg_pipeline(self.spark, self.pages, *self._dim_args(), **self._kwargs())

    @staticmethod
    def _write(r, out: str) -> None:
        graph_sink.write_triples(r.triples, f"{out}/triples")
        graph_sink.write_edges(r.edges, f"{out}/edges")
        graph_sink.write_nodes(r.nodes, f"{out}/nodes")

    def iterate(self, out: str) -> None:
        self._write(self._run(), out)

    def check(self, out: str) -> _Check:
        return self._check_graph(f"{out}/triples", f"{out}/nodes", f"{out}/edges")

    def traced(self, out: str, tr, m: dict) -> None:
        self._trace_dims(tr, m)
        with tr.span("kg.dim_phase"):
            r = self._run()
        with tr.span("mentions"):
            mentions = r.mentions.persist()
            m["mentions.rows_out"] = mentions.count()
        m["mentions.pages_in"], m["mentions.labels"] = self.n_pages, self.n_labels
        with tr.span("kg.assemble"):
            r.triples.write.format("noop").mode("overwrite").save()
        with tr.span("kg.metrics"):
            r.metrics.collect()
        # the sink calls re-run assembly over the cached mentions, as the
        # untraced iteration does (caching triples would change the
        # partitioning the sink writes)
        with tr.span("sink"):
            self._write(r, out)
        mentions.unpersist()
        n_bytes, n_files = tree_bytes_files(out)
        m["sink.bytes"], m["sink.files"] = n_bytes, n_files
        rows = {t: ds.dataset(f"{out}/{t}", format="parquet").count_rows()
                for t in ("triples", "edges", "nodes")}
        m["sink.rows"] = sum(rows.values())
        m["kg.triples_out"] = rows["triples"]


def _store(spark, out: str) -> StageStore:
    """The StageStore run whose directory is ``out``."""
    return StageStore(spark, os.path.dirname(out), os.path.basename(out))


class KGIncremental(_Pipeline):
    """``run_kg_pipeline_incremental`` over the corpus grown by 10%
    against a large ontology, into a fresh run_id each iteration, after
    the base run was committed through ``StageStore`` in set-up. Not in
    BENCHMARK.json (see kgbench/README.md); run it with
    ``--workload kg_incremental``."""

    name = "kg_incremental"

    def setup(self) -> None:
        n_base = self.size["pages"]
        fx = inputs.make_corpus(n_base + n_base // 10, self.size["concepts"], self.seed)
        inputs.write_pages(fx.pages[:n_base], f"{self.inp}/pages_base", n_files=4)
        inputs.write_pages(fx.pages, f"{self.inp}/pages", n_files=4)
        inputs.write_dims(fx, self.inp)
        self.golden = oracle.golden_triples(fx)
        self.golden_nodes = oracle.golden_nodes(fx)
        self.n_delta, self.n_labels = len(fx.pages) - n_base, len(fx.ontology_labels)
        self.pages = self.spark.read.parquet(f"{self.inp}/pages")
        self.dims = self._read_dims()
        self.base = f"{self.work}/out/base"
        run_kg_pipeline(self.spark, self.spark.read.parquet(f"{self.inp}/pages_base"),
                        *self._dim_args(), store=_store(self.spark, self.base),
                        run_id="base", **self._kwargs())

    def iterate(self, out: str) -> None:
        """``out`` is the new run's directory beside the base run."""
        assert os.path.dirname(out) == os.path.dirname(self.base)
        run_kg_pipeline_incremental(
            self.spark, self.pages, *self._dim_args(), store_root=os.path.dirname(out),
            run_id=os.path.basename(out), prev_run_id="base", **self._kwargs())

    def check(self, out: str) -> _Check:
        return self._check_graph(f"{out}/triples", f"{out}/nodes", None)

    def traced(self, out: str, tr, m: dict) -> None:
        labels = self.dims["ontology_labels"]
        prev_urls = self.spark.read.parquet(f"{self.base}/extracted").select("url")
        delta_pages = self.pages.join(prev_urls, "url", "left_anti")
        with tr.span("mentions"):
            m["mentions.rows_out"] = detect_mentions(
                self.spark, extract_pages(delta_pages), labels).count()
        m["mentions.pages_in"], m["mentions.labels"] = self.n_delta, self.n_labels
        self._trace_dims(tr, m)
        n_calls = len(tr.store_calls)
        with tr.span("kg.dim_phase"):
            self.iterate(out)
        stage_s = {stage: s for _run, stage, fresh, s in tr.store_calls[n_calls:] if fresh}
        m["kg.assemble_s"] = stage_s.get("triples", 0.0)
        m["kg.metrics_s"] = stage_s.get("metrics", 0.0)
        m["kg.triples_out"] = ds.dataset(f"{out}/triples", format="parquet").count_rows()


# ---------------------------------------------------------------------------
# kg_reason
# ---------------------------------------------------------------------------

_PREFIX = (
    "PREFIX sifr: <http://purl.lirmm.fr/ontology/SIFR/> "
    "PREFIX skos: <http://www.w3.org/2004/02/skos/core#> "
    "PREFIX rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#> "
)


def _queries() -> list[tuple[str, list[str], str]]:
    """(SPARQL, projected variables, DuckDB SQL over t(subj, pred, obj, lit))."""
    r1 = f"{inputs.KG_BASE}restriction/R1"
    k1, k3 = inputs.concept(1), inputs.concept(3)
    m, b = SIFR_MENTION, SKOS_BROADER
    t = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
    return [
        (_PREFIX + "SELECT ?page (COUNT(?c) AS ?n) WHERE { ?page sifr:mention ?c } GROUP BY ?page",
         ["page", "n"],
         f"SELECT subj, CAST(COUNT(obj) AS VARCHAR) FROM t WHERE pred = '{m}' GROUP BY subj"),
        (_PREFIX + f"SELECT ?page ?c WHERE {{ ?page rdf:type <{r1}> . ?page sifr:mention ?c . "
                   f"?c skos:broader <{k1}> }}",
         ["page", "c"],
         f"SELECT DISTINCT a.subj, m.obj FROM t a JOIN t m ON m.subj = a.subj "
         f"JOIN t b ON b.subj = m.obj WHERE a.pred = '{t}' AND a.obj = '{r1}' "
         f"AND m.pred = '{m}' AND b.pred = '{b}' AND b.obj = '{k1}'"),
        (_PREFIX + f"SELECT DISTINCT ?page WHERE {{ ?page sifr:mention/skos:broader+ <{k3}> }}",
         ["page"],
         f"WITH RECURSIVE c(s, o) AS (SELECT subj, obj FROM t WHERE pred = '{b}' AND NOT lit "
         f"UNION SELECT c.s, t.obj FROM c JOIN t ON c.o = t.subj AND t.pred = '{b}' AND NOT t.lit) "
         f"SELECT DISTINCT m.subj FROM t m JOIN c ON m.obj = c.s "
         f"WHERE m.pred = '{m}' AND c.o = '{k3}'"),
    ]


_T4 = ["subj", "pred", "obj", "obj_is_literal"]
# the iteration count kg_pipeline's own salience scoring uses; each
# iteration adds ~6 Spark jobs, which at this input size is most of its cost
PAGERANK_ITERATIONS = 3


class KGReason:
    """RDFS-Plus delta maintenance, sameAs consolidation, restriction
    rules, PageRank and three SPARQL queries over a saturated
    kg_build-shaped KG committed through ``StageStore`` in set-up. Each
    step commits its output as a stage of the iteration's own run, and
    the next step reads that snapshot.

    The committed KG is already saturated, as a maintained KG is, so the
    timed operation starts at ``rdfs_plus_entail_delta``. Full
    ``rdfs_plus_entail`` over the unsaturated KG would add ~14 s cold
    and ~8 s warm to every run; the traced run times it as a layer and
    checks it against the oracle."""

    name = "kg_reason"
    warmup = (("full", 1),)

    def __init__(self, spark, seed: int, work: str, size: dict):
        self.spark, self.seed, self.work, self.size = spark, seed, work, size

    def setup(self) -> None:
        kg = inputs.make_kg(self.size["concepts"], self.size["pages"], self.seed)
        inputs.write_triples(kg.base, f"{self.work}/in/base", n_files=4)
        inputs.write_triples(kg.delta, f"{self.work}/in/delta", n_files=1)
        base = {(s, p, o, lit) for s, p, o, _l, lit in kg.base}
        delta = {(s, p, o, lit) for s, p, o, _l, lit in kg.delta}
        base_sat = oracle.rdfs_plus(base)
        inputs.write_triples([(s, p, o, None, lit) for s, p, o, lit in sorted(base_sat)],
                             f"{self.work}/in/base_saturated", n_files=4)
        sat = oracle.rdfs_plus(base_sat | delta)
        if oracle.broader_pairs(sat) != oracle.tree_closure_pairs(kg.n_concepts):
            raise AssertionError("reasoning oracle disagrees with the closed-form tree closure")
        cons = oracle.sameas_consolidate(sat)
        restr = oracle.restrictions(cons)
        self.want = {"entailed": base_sat, "saturated": sat, "consolidated": cons,
                     "restricted": restr}
        self.want_rank = oracle.pagerank(cons, iterations=PAGERANK_ITERATIONS)
        self.queries = _queries()
        for i, (_q, _v, sql) in enumerate(self.queries):
            self.want[f"q{i}"] = oracle.duckdb_rows(restr, sql)
        self.kg = _store(self.spark, f"{self.work}/store/kg")
        for stage, table in (("triples", "base"), ("saturated", "base_saturated"),
                             ("delta", "delta")):
            self.kg.materialize(stage, self.spark.read.parquet(f"{self.work}/in/{table}"))

    def steps(self, out: str) -> list:
        """(span name, step) pairs; each step commits one or more stages
        of the run whose directory is ``out``."""
        cur = _store(self.spark, out)
        st: dict = {}

        def delta():
            saturated, d = self.kg.materialize("saturated", None), self.kg.materialize("delta", None)
            st["sat"] = cur.materialize("saturated", lambda: inference.rdfs_plus_entail_delta(
                saturated, d, materialize_entailed=False))

        def consolidate():
            st["cons"] = cur.materialize(
                "consolidated", lambda: inference.sameas_consolidate(st["sat"]))

        def restrict():
            st["restr"] = cur.materialize(
                "restricted", lambda: inference.restrictions_entail(st["cons"]))

        def rank():
            cur.materialize("pagerank", lambda: graph_mod.pagerank(
                graph_mod.triples_to_edges(st["cons"]), iterations=PAGERANK_ITERATIONS))

        def sparql(parsed: list | None = None):
            parsed = parsed or [bgp.parse_sparql(q) for q, _v, _sql in self.queries]
            for i, p in enumerate(parsed):
                cur.materialize(f"q{i}", lambda p=p: bgp.execute_bgp(st["restr"], p))

        return [("rdfs_plus_entail_delta", delta),
                ("sameas_consolidate", consolidate), ("restrictions_entail", restrict),
                ("pagerank", rank), ("sparql", sparql)]

    def iterate(self, out: str) -> None:
        for _name, step in self.steps(out):
            step()

    def check(self, out: str) -> _Check:
        got, want = set(), set()
        stages = ["saturated", "consolidated", "restricted"]
        if os.path.exists(f"{out}/entailed"):  # the traced run's full entailment
            stages.append("entailed")
        for k in stages:
            got |= {(k,) + r for r in read_rows(f"{out}/{k}", _T4)}
            want |= {(k,) + r for r in self.want[k]}
        for i, (_q, cols, _sql) in enumerate(self.queries):
            got |= {(f"q{i}",) + tuple(map(str, r)) for r in read_rows(f"{out}/q{i}", cols)}
            want |= {(f"q{i}",) + tuple(map(str, r)) for r in self.want[f"q{i}"]}
        ranks = dict(read_rows(f"{out}/pagerank", ["node", "rank"]))
        rank_ok = ranks.keys() == self.want_rank.keys() and all(
            abs(ranks[n] - v) <= 1e-9 * max(1.0, abs(v)) for n, v in self.want_rank.items())
        c = _Check(got, want, rank_ok, "" if rank_ok else "pagerank differs from NumPy")
        # the headline count: saturated + consolidated triples
        c.n_out = sum(ds.dataset(f"{out}/{k}", format="parquet").count_rows()
                      for k in ("saturated", "consolidated"))
        return c

    def traced(self, out: str, tr, m: dict) -> None:
        with tr.span("rdfs_plus_entail"):
            base = self.kg.materialize("triples", None)
            _store(self.spark, out).materialize(
                "entailed", lambda: inference.rdfs_plus_entail(base))
        steps = self.steps(out)
        for name, step in steps[:-1]:
            with tr.span(name):
                step()
        for name, stage in (("rdfs_plus_entail", "entailed"),
                            ("rdfs_plus_entail_delta", "saturated"),
                            ("sameas_consolidate", "consolidated"),
                            ("restrictions_entail", "restricted")):
            m[f"{name}.rows_out"] = ds.dataset(f"{out}/{stage}", format="parquet").count_rows()
        with tr.span("sparql.parse"):
            parsed = [bgp.parse_sparql(q) for q, _v, _sql in self.queries]
        with tr.span("sparql.exec"):
            steps[-1][1](parsed)
        m["sparql.rows_out"] = sum(ds.dataset(f"{out}/q{i}", format="parquet").count_rows()
                                   for i in range(len(parsed)))


WORKLOADS = {w.name: w for w in (KGBuild, KGIncremental, KGReason)}
