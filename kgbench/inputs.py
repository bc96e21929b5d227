"""Seeded input generators for the KG-construction benchmark.

Every generator is a pure function of its seed. Inputs are written as
parquet tables with pyarrow, so the program under test only ever sees
generated tables on disk, read back with ``spark.read.parquet`` the way
a production job reads its page and ontology tables.
"""

from __future__ import annotations

import datetime as dt
import os
import random
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

from sifr_project_java_ontology_processing_spark.functions.uris import (
    OWL_SAMEAS,
    RDF_TYPE,
    RDFS_SUBCLASSOF,
    SIFR_MENTION,
    SKOS_BROADER,
    SKOS_CONCEPT,
    UMLS_CUI,
    expand,
)
from sifr_project_java_ontology_processing_spark.sources.synthetic import (
    _FILLER_WORDS,
    _LABEL_WORDS,
    _LANGS,
    ONT2_BASE,
    ONT_BASE,
    KGFixture,
    _render_html,
    golden_text,
)

# ---------------------------------------------------------------------------
# Pages + ontology (kg_build, kg_incremental)
# ---------------------------------------------------------------------------

_NAV_ANCHOR = b"</ul><br><input"
_NAV_WORDS = ("home", "news", "forum", "shop", "careers", "press", "legal",
              "privacy", "terms", "sitemap", "help", "blog")


def _nav_padding(rng: random.Random, n_bytes: int) -> bytes:
    """Navigation-list boilerplate of about ``n_bytes``. It lands inside
    the page's ``<nav>``, which the extractor skips, so the golden text
    of a padded page is unchanged while the parser does more work."""
    parts: list[bytes] = []
    size = 0
    while size < n_bytes:
        w = rng.choice(_NAV_WORDS)
        item = f'<li><a href="/{w}/{rng.randrange(10**6)}">{w.capitalize()} section</a></li>'
        b = item.encode()
        parts.append(b)
        size += len(b)
    return b"".join(parts)


def _ontology(fx: KGFixture, n_concepts: int) -> list[str]:
    """``make_fixture``'s concept, label, mapping and UMLS shapes, with
    one distinct IRI and code per concept at any ontology size
    (``make_fixture`` derives codes from ``i`` modulo small numbers, so
    its concept IRIs repeat beyond a few hundred concepts)."""
    words = _LABEL_WORDS
    iris = []
    for i in range(n_concepts):
        word = words[i % len(words)]
        suffix = "" if i < len(words) else f" {i // len(words) + 1}"
        code = f"{chr(ord('A') + i % 26)}{i:06d}"
        iri = f"{ONT_BASE}{code}"
        iris.append(iri)
        pref = f"{word}{suffix}"
        fx.ontology_labels.append((iri, pref, "pref", "en"))
        if i % 2 == 0:
            fx.ontology_labels.append((iri, f"acute {word}{suffix}", "alt", "en"))
        if i % 5 == 0:
            fx.ontology_labels.append((iri, f" {pref.upper()} ", "alt", "en"))
        if i % 4 == 1:
            fx.ontology_labels.append((iri, f"C{1000000 + i:07d}", "alt", ""))
        if i % 6 == 3:
            fx.ontology_labels.append((iri, word.upper() + " SYNDROME", "hidden", "en"))
        fx.concept_codes[iri] = code
        if i % 8 != 5:
            fx.ontology_labels.append((iri, code, "notation", ""))
        if i % 3 == 0:
            fx.concept_cuis[iri] = [f"C{2000000 + i:07d}"]
        if i % 7 == 0:
            fx.concept_tuis[iri] = [f"T{100 + i:03d}"]

    skos = "http://www.w3.org/2004/02/skos/core#"
    props = [f"{skos}exactMatch", f"{skos}closeMatch", f"{skos}relatedMatch",
             f"{skos}broadMatch", "http://purl.org/linguistics/gold/freeTranslation",
             "http://purl.org/linguistics/gold/translation"]
    tgt_cuis: dict[str, list[str]] = {}
    n = len(iris)
    for i, iri in enumerate(iris):
        tgt = f"{ONT2_BASE}T{i:06d}"
        if i % 3 == 1:
            fx.mappings.append((iri, props[i % len(props)], tgt))
            if i % 2 == 1:
                tgt_cuis[tgt] = [f"C{3000000 + i:07d}"]
        if i % 10 == 4:  # cycle A <-> B
            fx.mappings.append((iri, props[0], iris[(i + 1) % n]))
            fx.mappings.append((iris[(i + 1) % n], props[0], iri))
        if i % 10 == 7:  # chain A -> B -> C
            fx.mappings.append((iri, props[1], iris[(i + 2) % n]))
            fx.mappings.append((iris[(i + 2) % n], props[1], iris[(i + 4) % n]))
        if i % 9 == 2:  # hierarchy edge -> rdfs:subClassOf in the KG
            fx.mappings.append((iri, f"{skos}broader", iris[(i + 3) % n]))
    fx.target_cuis = tgt_cuis  # type: ignore[attr-defined]

    for i, iri in enumerate(iris):
        code = fx.concept_codes[iri]
        for k in range([0, 1, 1, 2, 1][i % 5]):
            cui = f"C{4000000 + i * 10 + k:08d}"
            fx.umls_concepts.append((code, cui, "ENG", f"{words[i % len(words)]} term {k}"))
            if k == 0 and i % 6 == 0:
                fx.umls_concepts.append((code, cui, "ENG", f"alt name {i}"))
            for t in range((i + k) % 3):
                fx.umls_semtypes.append((cui, f"T{200 + i + t:03d}"))
    return iris


def make_corpus(
    n_pages: int,
    n_concepts: int,
    seed: int,
    *,
    large_fraction: float = 0.05,
) -> KGFixture:
    """``make_fixture``-style pages (25% of them on one hot host,
    mentioning the two head labels) over an ontology of ``n_concepts``
    distinct concepts, with a long tail of page sizes: every page gets
    0-2 KB of extra navigation and ``large_fraction`` of them are padded
    to 32-64 KB. The seed moves which pages are large, never how many,
    so every seed has about the same number of bytes to parse."""
    fx = KGFixture()
    _ontology(fx, n_concepts)
    rng = random.Random(seed)
    pad_rng = random.Random(seed * 7919 + 1)
    labels = sorted({lbl for (_c, lbl, kind, _lg) in fx.ontology_labels
                     if kind in ("pref", "alt") and not lbl.startswith("C")
                     and lbl == lbl.strip()})
    hot_labels = labels[:2]
    epoch = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)
    large = set(pad_rng.sample(range(n_pages), round(n_pages * large_fraction)))
    for p in range(n_pages):
        hot = rng.random() < 0.25
        host = "hot-host0" if hot else f"host{p % 7}"
        title = f"Case {p}: {rng.choice(labels)}"
        paragraphs = []
        for _ in range(rng.randint(1, 4)):
            words = []
            for _ in range(rng.randint(5, 12)):
                words.append(rng.choice(_FILLER_WORDS))
                if rng.random() < 0.35:
                    words.append(rng.choice(hot_labels if hot else labels))
            paragraphs.append(" ".join(words))
        html = _render_html(title, paragraphs, host).encode("utf-8")
        if p in large:
            target = pad_rng.randint(32 * 1024, 64 * 1024) - len(html)
        else:
            target = pad_rng.randint(0, 2048)
        if target > 0:
            html = html.replace(_NAV_ANCHOR, _nav_padding(pad_rng, target) + _NAV_ANCHOR, 1)
        fx.pages.append((f"https://{host}.example/p/{p}", epoch + dt.timedelta(seconds=p * 137),
                         html, golden_text(title, paragraphs), _LANGS[p % len(_LANGS)]))
    return fx


_PAGES_SCHEMA = pa.schema([
    ("url", pa.string()),
    ("warc_ts", pa.timestamp("us", tz="UTC")),
    ("html", pa.binary()),
    ("text", pa.string()),
    ("lang", pa.string()),
])


def _write(rows: list[tuple], schema: pa.Schema, path: str, n_files: int = 1) -> None:
    os.makedirs(path, exist_ok=True)
    cols = list(zip(*rows)) if rows else [[] for _ in schema]
    table = pa.Table.from_arrays(
        [pa.array(list(c), type=f.type) for c, f in zip(cols, schema)], schema=schema
    )
    step = max(1, -(-table.num_rows // n_files))
    for i in range(n_files):
        part = table.slice(i * step, step)
        if part.num_rows or i == 0:
            pq.write_table(part, os.path.join(path, f"part-{i:05d}.parquet"))


def write_pages(pages: list[tuple], path: str, n_files: int) -> None:
    _write([(u, t, bytes(h), x, l) for u, t, h, x, l in pages], _PAGES_SCHEMA, path, n_files)


def write_dims(fx: KGFixture, root: str) -> None:
    """The ontology-side tables, plus the fixture's own/target CUI and
    TUI assertions the pipeline takes as optional inputs."""
    s = pa.string()
    _write(fx.ontology_labels, pa.schema([("concept_iri", s), ("label", s),
                                          ("label_kind", s), ("lang", s)]),
           f"{root}/ontology_labels")
    _write(fx.mappings, pa.schema([("source_iri", s), ("property", s), ("target_iri", s)]),
           f"{root}/mappings")
    _write(fx.umls_concepts, pa.schema([("code", s), ("cui", s), ("lat", s), ("str", s)]),
           f"{root}/umls_concepts")
    _write(fx.umls_semtypes, pa.schema([("cui", s), ("tui", s)]), f"{root}/umls_semtypes")
    cui = pa.schema([("concept_iri", s), ("cui", s)])
    _write([(c, x) for c, xs in fx.concept_cuis.items() for x in xs], cui, f"{root}/own_cuis")
    _write([(c, x) for c, xs in fx.target_cuis.items() for x in xs], cui, f"{root}/target_cuis")
    _write([(c, x) for c, xs in fx.concept_tuis.items() for x in xs],
           pa.schema([("concept_iri", s), ("tui", s)]), f"{root}/own_tuis")


# ---------------------------------------------------------------------------
# Knowledge graph + schema (kg_reason)
# ---------------------------------------------------------------------------

KG_BASE = "http://example.org/kg/"
OWL_TRANSITIVE = expand("owl:TransitiveProperty")
OWL_INVERSE_OF = expand("owl:inverseOf")
OWL_RESTRICTION = expand("owl:Restriction")
OWL_ON_PROPERTY = expand("owl:onProperty")
OWL_SOME_VALUES = expand("owl:someValuesFrom")
RDFS_RANGE = expand("rdfs:range")
SKOS_NARROWER = expand("skos:narrower")

Triple = tuple  # (subj, pred, obj, obj_lang, obj_is_literal)


def concept(i: int) -> str:
    return f"{KG_BASE}concept/K{i:06d}"


def tree_parent(i: int) -> int:
    """Parent in the 4-ary concept tree (concept 0 is the root)."""
    return (i - 1) // 4


def _iri(s: str, p: str, o: str) -> Triple:
    return (s, p, o, None, False)


@dataclass
class ReasoningInput:
    base: list[Triple]
    delta: list[Triple]
    n_concepts: int  # base + delta concepts


def make_kg(n_concepts: int, n_pages: int, seed: int) -> ReasoningInput:
    """A KG of the shape kg_build emits (page ``sifr:mention`` concept,
    concept ``rdf:type skos:Concept``, literal ``umls:cui``), with the
    concepts on a 4-ary ``skos:broader`` tree and a matching
    ``rdfs:subClassOf`` tree, each concept typed by its tree parent,
    plus the schema: broader is transitive with inverse narrower,
    ``sifr:mention rdfs:range skos:Concept``, ~2% ``owl:sameAs``
    concept pairs and a few ``someValuesFrom`` restrictions on
    ``sifr:mention``.

    The delta is a later ~10% batch of INSTANCE triples only: new leaf
    concepts continuing the tree numbering (broader edge + typing) and
    new pages mentioning concepts."""
    rng = random.Random(seed * 31337 + 17)
    n_new = max(1, n_concepts // 10)
    base: list[Triple] = [
        _iri(SKOS_BROADER, RDF_TYPE, OWL_TRANSITIVE),
        _iri(SKOS_BROADER, OWL_INVERSE_OF, SKOS_NARROWER),
        _iri(SIFR_MENTION, RDFS_RANGE, SKOS_CONCEPT),
    ]
    fillers = {f"{KG_BASE}restriction/R0": SKOS_CONCEPT}
    for k in range(1, 5):
        fillers[f"{KG_BASE}restriction/R{k}"] = concept(k)
    for r, d in fillers.items():
        base += [_iri(r, RDF_TYPE, OWL_RESTRICTION), _iri(r, OWL_ON_PROPERTY, SIFR_MENTION),
                 _iri(r, OWL_SOME_VALUES, d)]

    def concept_triples(i: int, with_schema: bool) -> list[Triple]:
        c = concept(i)
        out = [_iri(c, RDF_TYPE, SKOS_CONCEPT)]
        if i % 3 == 0:
            out.append((c, UMLS_CUI, f"C{5000000 + i:07d}", None, True))
        if i:
            p = concept(tree_parent(i))
            out += [_iri(c, SKOS_BROADER, p), _iri(c, RDF_TYPE, p)]
            if with_schema:
                out.append(_iri(c, RDFS_SUBCLASSOF, p))
        return out

    for i in range(n_concepts):
        base += concept_triples(i, True)
    # ~2% of concepts join a sameAs pair, never with the tree root
    for _ in range(max(1, n_concepts // 100)):
        a, b = rng.sample(range(1, n_concepts), 2)
        base.append(_iri(concept(a), OWL_SAMEAS, concept(b)))

    hot = list(range(1, 21))

    def page_triples(j: int, n_c: int) -> list[Triple]:
        url = f"https://host{j % 7}.example/p/{j}"
        out = []
        for _ in range(rng.randint(1, 8)):
            i = rng.choice(hot) if rng.random() < 0.25 else rng.randrange(n_c)
            out.append(_iri(url, SIFR_MENTION, concept(i)))
        return out

    n_new_pages = max(1, n_pages // 10)
    for j in range(n_pages):
        base += page_triples(j, n_concepts)
    delta: list[Triple] = []
    for i in range(n_concepts, n_concepts + n_new):
        delta += concept_triples(i, False)
    for j in range(n_pages, n_pages + n_new_pages):
        delta += page_triples(j, n_concepts + n_new)
    # set semantics on both inputs; the delta carries only new triples
    base = sorted(set(base), key=lambda t: (t[0], t[1], t[2]))
    bs = set(base)
    delta = sorted(set(delta) - bs, key=lambda t: (t[0], t[1], t[2]))
    return ReasoningInput(base, delta, n_concepts + n_new)


TRIPLES_SCHEMA = pa.schema([
    ("subj", pa.string()), ("pred", pa.string()), ("obj", pa.string()),
    ("obj_lang", pa.string()), ("obj_is_literal", pa.bool_()),
])


def write_triples(rows: list[Triple], path: str, n_files: int = 1) -> None:
    _write(rows, TRIPLES_SCHEMA, path, n_files)

