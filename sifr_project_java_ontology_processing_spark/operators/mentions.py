"""Dictionary-driven mention detection (SURVEY.md J9; north_star stage 2).

Generalizes the reference's label↔code index lookups
(cli/generation/EHealth2017DictionaryToSkos.java:187-196) and UMLS
candidate-term fetch (ontology/umls/SQLUMLSDelegate.java:99-164) into
span detection over page text: a token-level trie built from the SKOS
label surface (prefLabel/altLabel — BaseOntologyDelegate.java:42-43) is
**broadcast** to executors (the Spark analog of the reference's whole
in-RAM OntModel), and an Arrow-batched ``mapInPandas`` scans each text
once, emitting longest-match spans.

Semantics:
  * case-insensitive exact phrase match on whitespace-token boundaries;
  * longest match wins at a position (greedy, like dictionary matchers);
  * after a match, scanning resumes after the matched phrase
    (non-overlapping).

Scale: map-side only — the label dimension rides the broadcast, so there
is NO shuffle between scan and mention emission; the first shuffle in
the pipeline appears only at the downstream groupBy/canonicalize. That
is the property that survives a 100 TB scan: mention detection cost is
one pass over text, label-set size only affects broadcast build time.
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_WORD_RX = re.compile(r"\S+")
_EDGE_PUNCT_RX = re.compile(r"^[^\w]+|[^\w]+$")


def _norm_token(tok: str) -> str:
    """Lowercase + strip edge punctuation, so ``Aorta,`` matches ``aorta``."""
    return _EDGE_PUNCT_RX.sub("", tok.lower())

# trie node: dict token -> child; special key "" -> (concept_iri, label_kind, lang)
_LEAF = ""


def build_label_trie(labels: list[tuple[str, str, str, str]]) -> dict:
    """(concept_iri, label, label_kind, lang) rows → token trie.

    Only pref/alt/hidden labels participate in mention detection
    (notation codes are lookup keys, not surface forms). CUI-shaped
    labels (C0000000) are excluded — the reference treats those as
    mis-stored CUIs, not labels (cuis/CUIOntologyDelegateImpl.java:123-138).
    """
    cui_rx = re.compile(r"^C[0-9]{7}$")
    root: dict = {}
    for concept_iri, label, kind, lang in labels:
        if kind not in ("pref", "alt", "hidden"):
            continue
        if cui_rx.fullmatch(label.strip()):
            continue
        tokens = [_norm_token(t) for t in label.split()]
        tokens = [t for t in tokens if t]
        if not tokens:
            continue
        node = root
        for t in tokens:
            node = node.setdefault(t, {})
        # keep first (pref beats alt if both map; caller pre-sorts)
        node.setdefault(_LEAF, (concept_iri, kind, lang))
    return root


def _scan_text(text: str, trie: dict) -> list[tuple[int, int, str, str, str]]:
    """Longest-match scan → [(start, end, surface, concept_iri, kind)]."""
    if not text:
        return []
    words = [
        (m.start(), m.end(), _norm_token(m.group(0))) for m in _WORD_RX.finditer(text)
    ]
    words = [w for w in words if w[2]]  # drop pure-punctuation tokens
    out = []
    i = 0
    n = len(words)
    while i < n:
        node = trie.get(words[i][2])
        best = None
        j = i
        while node is not None:
            leaf = node.get(_LEAF)
            if leaf is not None:
                best = (j, leaf)
            j += 1
            if j >= n:
                break
            node = node.get(words[j][2])
        if best is not None:
            jend, (concept, kind, lang) = best
            start, end = words[i][0], words[jend][1]
            out.append((start, end, text[start:end], concept, kind))
            i = jend + 1
        else:
            i += 1
    return out


def _broadcast_label_rows(spark: SparkSession, ontology_labels: DataFrame):
    """Collect + order the label dim for trie building and broadcast it.
    Deterministic order: kind priority (pref < alt < hidden) then
    concept_iri, so the trie's first-wins leaf rule is stable — the
    single definition shared by every broadcast-trie operator."""
    label_rows = [
        (r["concept_iri"], r["label"], r["label_kind"], r["lang"])
        for r in ontology_labels.select(
            "concept_iri", "label", "label_kind", "lang"
        )
        # pref first so trie leaf prefers pref over alt on identical phrases
        .orderBy("label_kind", "concept_iri")
        .collect()
    ]
    label_rows.sort(key=lambda r: {"pref": 0, "alt": 1, "hidden": 2}.get(r[2], 3))
    return spark.sparkContext.broadcast(label_rows)


def detect_mentions(
    spark: SparkSession,
    extracted: DataFrame,
    ontology_labels: DataFrame,
    text_col: str = "extracted_text",
) -> DataFrame:
    """extracted(url, <text_col>, lang, …) × broadcast(labels) → MENTIONS.

    The label DataFrame is collected once on the driver (dimension-sized:
    the reference holds the same data as an in-memory OntModel) and
    broadcast via ``SparkContext.broadcast`` so every executor builds the
    trie exactly once per process.
    """
    bc = _broadcast_label_rows(spark, ontology_labels)

    src = extracted.select("url", text_col, "lang")
    out_schema = (
        "url string, span_start int, span_end int, surface string, "
        "concept_iri string, label_kind string, lang string, part_id int"
    )

    def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        trie = build_label_trie(bc.value)
        pid = TaskContext.get().partitionId() if TaskContext.get() else -1
        for pdf in it:
            # columnar accumulation — a list-of-tuples DataFrame build is
            # 3-4x slower and allocation-bound at millions of mentions
            c_url: list = []
            c_start: list = []
            c_end: list = []
            c_surface: list = []
            c_concept: list = []
            c_kind: list = []
            c_lang: list = []
            for url, text, lang in zip(pdf["url"], pdf[text_col], pdf["lang"]):
                hits = _scan_text(text or "", trie)
                if not hits:
                    continue
                for start, end, surface, concept, kind in hits:
                    c_start.append(start)
                    c_end.append(end)
                    c_surface.append(surface)
                    c_concept.append(concept)
                    c_kind.append(kind)
                n = len(hits)
                c_url.extend([url] * n)
                c_lang.extend([lang] * n)
            yield pd.DataFrame(
                {
                    "url": pd.Series(c_url, dtype="object"),
                    "span_start": pd.Series(c_start, dtype="int32"),
                    "span_end": pd.Series(c_end, dtype="int32"),
                    "surface": pd.Series(c_surface, dtype="object"),
                    "concept_iri": pd.Series(c_concept, dtype="object"),
                    "label_kind": pd.Series(c_kind, dtype="object"),
                    "lang": pd.Series(c_lang, dtype="object"),
                    "part_id": pd.Series([pid] * len(c_start), dtype="int32"),
                }
            )

    return src.mapInPandas(_batches, schema=out_schema)


def extract_and_detect(
    spark: SparkSession,
    pages: DataFrame,
    ontology_labels: DataFrame,
) -> DataFrame:
    """Fused extraction + trie mention detection in ONE ``mapInArrow``
    pass over ``pages(url, html, lang)`` — same rows as
    ``detect_mentions(spark, extract_pages(pages), labels)`` (pytest-
    gated equality).

    Why fuse: chained ``mapInPandas`` stages each cross the JVM↔Python
    boundary with the full corpus (extracted text is Arrow-serialized
    out of the extraction UDF and straight back into the mention UDF).
    At 100 TB that is a second full-corpus serialization for no
    computational gain. This operator decodes html → text → spans
    inside one Python worker pass and builds the output as pyarrow
    arrays directly (no intermediate pandas frame). Still map-only:
    zero shuffle, label trie on the broadcast."""
    import pyarrow as pa

    bc = _broadcast_label_rows(spark, ontology_labels)

    from sifr_project_java_ontology_processing_spark.operators.extraction import (
        extract_text,
    )

    src = pages.select("url", "html", "lang")
    out_schema = (
        "url string, span_start int, span_end int, surface string, "
        "concept_iri string, label_kind string, lang string, part_id int"
    )

    def _batches(it):
        from pyspark import TaskContext

        trie = build_label_trie(bc.value)
        pid = TaskContext.get().partitionId() if TaskContext.get() else -1
        for rb in it:
            urls = rb.column("url").to_pylist()
            htmls = rb.column("html").to_pylist()
            langs = rb.column("lang").to_pylist()
            c_url: list = []
            c_start: list = []
            c_end: list = []
            c_surface: list = []
            c_concept: list = []
            c_kind: list = []
            c_lang: list = []
            for url, html, lang in zip(urls, htmls, langs):
                hits = _scan_text(extract_text(html), trie)
                if not hits:
                    continue
                for start, end, surface, concept, kind in hits:
                    c_start.append(start)
                    c_end.append(end)
                    c_surface.append(surface)
                    c_concept.append(concept)
                    c_kind.append(kind)
                n = len(hits)
                c_url.extend([url] * n)
                c_lang.extend([lang] * n)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(c_url, type=pa.string()),
                    pa.array(c_start, type=pa.int32()),
                    pa.array(c_end, type=pa.int32()),
                    pa.array(c_surface, type=pa.string()),
                    pa.array(c_concept, type=pa.string()),
                    pa.array(c_kind, type=pa.string()),
                    pa.array(c_lang, type=pa.string()),
                    pa.array([pid] * len(c_start), type=pa.int32()),
                ],
                names=[
                    "url", "span_start", "span_end", "surface",
                    "concept_iri", "label_kind", "lang", "part_id",
                ],
            )

    return src.mapInArrow(_batches, schema=out_schema)


def _vocab_pruned_tokens(tokens: DataFrame, phrases: DataFrame) -> DataFrame:
    """Prune the exploded token stream BEFORE any exchange: only
    occurrences of the phrase VOCABULARY (first + continuation tokens —
    continuations are needed for verification) can matter downstream.
    The vocab is distinct-words-sized, so it broadcasts even when the
    phrase dim itself cannot; the semi-join runs map-side, and the full
    web-corpus token stream never hits a shuffle (plan-gated)."""
    vocab = phrases.select(
        F.explode(F.split("phrase_key", " ")).alias("tok")
    ).distinct()
    return tokens.join(F.broadcast(vocab), "tok", "semi")


def detect_mentions_joined(
    spark: SparkSession,
    extracted: DataFrame,
    ontology_labels: DataFrame,
    text_col: str = "extracted_text",
) -> DataFrame:
    """Shuffle-based twin of :func:`detect_mentions` for label dimensions
    too large to broadcast (SURVEY.md J9, scale path).

    ``detect_mentions`` holds the whole label surface on every executor
    (the Spark analog of the reference's in-RAM OntModel,
    utils/OntologyLoader.java:41-79) — right up to the point where a
    10M+-label ontology no longer fits in executor memory. This variant
    never collects or broadcasts the dimension:

      1. pages are tokenized map-side ONCE into ``(url, idx, tok,
         start, end)`` rows — char offsets ride along so the resolve
         step never re-tokenizes;
      2. the label dim is normalized into a phrase table keyed by its
         FIRST token (an inverted index), deduped per normalized phrase
         with the same first-wins rule as the trie leaf (pref < alt <
         hidden, then min concept_iri);
      3. the token stream is PRUNED before any exchange with a
         broadcast semi-join against the distinct phrase VOCABULARY
         (every token of every phrase, not just firsts — continuation
         tokens are needed for verification; ``_vocab_pruned_tokens``).
         The vocab is distinct-words-sized (≪ the label dim, which
         carries IRIs and full phrases), so it broadcasts even when
         the dim cannot; tokens outside the vocab — the overwhelming
         majority of a web corpus — never enter a shuffle. The pruned
         stream is materialized ONCE (eager ``materialize``) so its
         two consumers cannot re-run the scan→tokenize pipeline;
      4. an equi-join on ``tok == first_token`` yields candidate starts
         (AQE skew-join splits hot first tokens);
      5. candidates AND kept tokens are packed into one array per url
         (two ``collect_list`` aggs sharing the url partitioning) and
         joined back to the pages; a single Arrow-batched
         ``mapInPandas`` verifies each candidate phrase against the
         kept-token position map and replays the trie's greedy
         longest-match, non-overlapping scan, slicing surfaces from
         the page text via the carried offsets. (One batch covers many
         pages — a cogrouped ``applyInPandas`` per url pays a Python
         round-trip per PAGE and benched 13× slower.) A vocab position
         missing from the map cannot be a phrase continuation, so
         pruning never changes the result.

    Output schema and rows are IDENTICAL to ``detect_mentions`` (equality
    is pytest-gated); only the physical plan differs: equi-join
    shuffles (vocab-pruned token, url) instead of one broadcast. Both
    sides scale linearly — shuffled rows are O(occurrences of phrase
    vocabulary), never |pages| × |labels| and never the full token
    stream.
    """
    cui_rx = re.compile(r"^C[0-9]{7}$")

    # --- phrase dim: normalize + dedup exactly like build_label_trie ----
    lab_src = ontology_labels.select("concept_iri", "label", "label_kind")

    def _phrases(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            keys, firsts, ns, concepts, kinds = [], [], [], [], []
            for concept, label, kind in zip(
                pdf["concept_iri"], pdf["label"], pdf["label_kind"]
            ):
                if kind not in ("pref", "alt", "hidden"):
                    continue
                if label is None or cui_rx.fullmatch(label.strip()):
                    continue
                toks = [t for t in (_norm_token(w) for w in label.split()) if t]
                if not toks:
                    continue
                keys.append(" ".join(toks))
                firsts.append(toks[0])
                ns.append(len(toks))
                concepts.append(concept)
                kinds.append(kind)
            yield pd.DataFrame(
                {
                    "phrase_key": pd.Series(keys, dtype="object"),
                    "first_token": pd.Series(firsts, dtype="object"),
                    "n_tokens": pd.Series(ns, dtype="int32"),
                    "concept_iri": pd.Series(concepts, dtype="object"),
                    "label_kind": pd.Series(kinds, dtype="object"),
                }
            )

    from pyspark.sql import functions as F

    raw_phrases = lab_src.mapInPandas(
        _phrases,
        schema="phrase_key string, first_token string, n_tokens int, "
        "concept_iri string, label_kind string",
    )
    # first-wins dedup per normalized phrase: trie setdefault keeps the
    # row with min (kind priority, concept_iri)
    prio = (
        F.when(F.col("label_kind") == "pref", 0)
        .when(F.col("label_kind") == "alt", 1)
        .otherwise(2)
    )
    phrases = (
        raw_phrases.groupBy("phrase_key", "first_token", "n_tokens")
        .agg(
            F.min(F.struct(prio.alias("prio"), "concept_iri", "label_kind")).alias(
                "w"
            )
        )
        .select(
            "phrase_key",
            "first_token",
            "n_tokens",
            F.col("w.concept_iri").alias("concept_iri"),
            F.col("w.label_kind").alias("label_kind"),
        )
    )

    # --- page tokens, exploded map-side (ONE tokenize pass: char
    # offsets ride along so resolve never re-runs _WORD_RX) -------------
    src = extracted.select("url", text_col, "lang")

    def _tokens(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            urls, idxs, toks, starts, ends = [], [], [], [], []
            for url, text in zip(pdf["url"], pdf[text_col]):
                if not text:
                    continue
                i = 0
                for m in _WORD_RX.finditer(text):
                    t = _norm_token(m.group(0))
                    if not t:
                        continue
                    urls.append(url)
                    idxs.append(i)
                    toks.append(t)
                    starts.append(m.start())
                    ends.append(m.end())
                    i += 1
            yield pd.DataFrame(
                {
                    "url": pd.Series(urls, dtype="object"),
                    "idx": pd.Series(idxs, dtype="int32"),
                    "tok": pd.Series(toks, dtype="object"),
                    "start": pd.Series(starts, dtype="int32"),
                    "end": pd.Series(ends, dtype="int32"),
                }
            )

    tokens = src.mapInPandas(
        _tokens, schema="url string, idx int, tok string, start int, end int"
    )
    pruned = _vocab_pruned_tokens(tokens, phrases)
    # The pruned stream has TWO consumers (the candidates join and the
    # per-url token pack). Without materialization each consumer
    # re-runs the scan→tokenize→semi-join pipeline — including html
    # extraction when the input is an unmaterialized DAG — because
    # Spark's exchange reuse does not dedupe these subtrees (divergent
    # column pruning defeats plan canonicalization; verified
    # empirically). An EAGER ``materialize`` computes the pruned
    # stream exactly once and truncates the lineage; both consumers
    # then read the stored blocks. Storage cost is the
    # vocabulary-occurrence fraction of the corpus token stream — the
    # same cost class as the shuffle this operator already pays.
    from sifr_project_java_ontology_processing_spark.operators.materialize import (
        materialize,
    )

    tokens_kept = materialize(pruned)
    candidates = tokens_kept.join(
        phrases.withColumnRenamed("first_token", "tok"), "tok"
    ).select("url", "idx", "phrase_key", "n_tokens", "concept_iri", "label_kind")

    # --- per-url verify + greedy longest-match resolve ------------------
    # candidates + kept tokens packed to one array row per url (the two
    # aggs and the joins share the url hash partitioning), joined to
    # the pages; the resolve UDF then streams many pages per Arrow batch.
    cand_arrays = candidates.groupBy("url").agg(
        F.collect_list(
            F.struct("idx", "phrase_key", "n_tokens", "concept_iri", "label_kind")
        ).alias("cands")
    )
    tok_arrays = tokens_kept.groupBy("url").agg(
        F.collect_list(F.struct("idx", "tok", "start", "end")).alias("toks")
    )
    joined = src.join(cand_arrays, "url").join(tok_arrays, "url")

    out_schema = (
        "url string, span_start int, span_end int, surface string, "
        "concept_iri string, label_kind string, lang string, part_id int"
    )

    def _resolve(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId() if TaskContext.get() else -1
        for pdf in it:
            cols: dict[str, list] = {
                "url": [], "span_start": [], "span_end": [], "surface": [],
                "concept_iri": [], "label_kind": [], "lang": [],
            }
            for url, text, lang, cands, toks in zip(
                pdf["url"], pdf[text_col], pdf["lang"], pdf["cands"], pdf["toks"]
            ):
                if not text or cands is None or len(cands) == 0:
                    continue
                # per start idx: [(n_tokens, phrase tokens, concept, kind)],
                # longest first so the scan stops at the first verified hit
                by_idx: dict[int, list] = {}
                for cand in cands:
                    by_idx.setdefault(int(cand["idx"]), []).append(
                        (
                            int(cand["n_tokens"]),
                            cand["phrase_key"].split(" "),
                            cand["concept_iri"],
                            cand["label_kind"],
                        )
                    )
                for lst in by_idx.values():
                    lst.sort(key=lambda t: -t[0])
                # position map from the FIRST tokenize pass (global token
                # idx → norm token + char span). Only vocab tokens are
                # present; a missing position cannot equal a phrase
                # token, so `get` returning None fails verification with
                # the same outcome as the full-stream comparison.
                pos: dict[int, tuple] = {
                    int(t["idx"]): (t["tok"], int(t["start"]), int(t["end"]))
                    for t in toks
                } if toks is not None else {}
                cursor = 0
                for i in sorted(by_idx):
                    if i < cursor:
                        continue  # consumed by a previous (longer) match
                    best = None
                    for n, ktoks, concept, kind in by_idx[i]:
                        span = [pos.get(i + j) for j in range(n)]
                        if all(
                            s is not None and s[0] == ktoks[j]
                            for j, s in enumerate(span)
                        ):
                            best = (n, concept, kind)
                            break  # sorted longest-first
                    if best is not None:
                        best_n, concept, kind = best
                        start = pos[i][1]
                        end = pos[i + best_n - 1][2]
                        cols["url"].append(url)
                        cols["span_start"].append(start)
                        cols["span_end"].append(end)
                        cols["surface"].append(text[start:end])
                        cols["concept_iri"].append(concept)
                        cols["label_kind"].append(kind)
                        cols["lang"].append(lang)
                        cursor = i + best_n
            yield pd.DataFrame(
                {
                    "url": pd.Series(cols["url"], dtype="object"),
                    "span_start": pd.Series(cols["span_start"], dtype="int32"),
                    "span_end": pd.Series(cols["span_end"], dtype="int32"),
                    "surface": pd.Series(cols["surface"], dtype="object"),
                    "concept_iri": pd.Series(cols["concept_iri"], dtype="object"),
                    "label_kind": pd.Series(cols["label_kind"], dtype="object"),
                    "lang": pd.Series(cols["lang"], dtype="object"),
                    "part_id": pd.Series(
                        [pid] * len(cols["url"]), dtype="int32"
                    ),
                }
            )

    return joined.mapInPandas(_resolve, schema=out_schema)
