"""End-to-end corpus curation: the decision a training-data pipeline
actually materializes — per document, keep or drop, and why.

Composes the individual operators this engine already oracle-gates
(exact dedup keeper, n-gram decontamination, heuristic quality, n-gram
language ID) into one kept/dropped view with a deterministic priority
of drop reasons:

    exact_dup > contaminated > quality > lang

Scale shape: the exact-dedup keeper is a PARTIALLY-AGGREGATED groupBy
on the content hash joined back to the corpus (the same shape as
``dedup.exact_dedup``) — NOT a window. A window on md5(text) puts
every row of one content hash in a single task, so a boilerplate page
duplicated 50M times at 100 TB is one straggler; the groupBy's
map-side combine shuffles ~one row per hash per input partition, and
the join back is an equi-join AQE can skew-split. The text column is
scanned ONCE: a narrow (id, hash, quality, lang) projection is
materialized first, and both the keeper aggregate and the per-row
side read that frame — at 100 TB the second pass touches ~50 bytes
per row instead of re-decompressing and re-hashing the full corpus
text. Decontamination is a broadcast join against the benchmark
n-gram dictionary plus a partial-aggregated hit count; quality and
language features are map-side — no corpus × corpus or
corpus × benchmark product anywhere. The whole decision is replayed
in SQL by the ``corpus_curation`` registry oracle.

The content hash is ``md5(coalesce(text, ''))``: md5(NULL) is NULL
and an equi-join never matches NULL keys, so hashing the raw column
would silently drop NULL-text docs from the decision frame — the
exact row loss this module's contract ("a row for EVERY corpus doc")
forbids. NULL text and empty text dedup into one group by design:
both carry zero content.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sifr_project_java_ontology_processing_spark.operators.materialize import (
    materialize,
)
from sifr_project_java_ontology_processing_spark.operators.textanalysis import (
    lang_pred_cols,
    ngram_decontaminate,
)

STOPWORDS = ["the", "a", "of", "and", "to"]


def curate_corpus(
    docs: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int = 20,
    min_stopword_ratio: float = 0.05,
    allowed_langs: tuple[str, ...] = ("en",),
    n: int = 8,
) -> DataFrame:
    """→ (id, keeper, drop_reason, is_kept) for EVERY corpus doc.

    ``drop_reason`` is '' for kept docs, else the highest-priority
    failing check: 'exact_dup' (not the min-id of its content-hash
    group), 'contaminated' (shares a word n-gram with the benchmark),
    'quality' (too short or stopword-starved), 'lang' (predicted
    language not allowed)."""
    # quality and language are pure row-wise expressions — computed
    # inline on the SAME scan as the keeper hash, never joined back.
    # NULL text is treated as empty everywhere (zero tokens → quality
    # drop), never as a silently-vanishing row.
    txt = F.coalesce(F.col(text_col), F.lit(""))
    toks = F.filter(F.split(F.lower(txt), " "), lambda x: x != "")
    n_tok = F.size(toks)
    stop_ratio = F.when(n_tok == 0, F.lit(0.0)).otherwise(
        F.size(F.filter(toks, lambda x: x.isin(*STOPWORDS))) / n_tok.cast("double")
    )
    quality_fail = (n_tok < min_tokens) | (stop_ratio < min_stopword_ratio)
    pred_lang, _hits = lang_pred_cols(txt)

    # one text scan: hash + features into a narrow materialized frame;
    # the keeper agg and the per-row side both read it (see module
    # docstring). coalesce keeps NULL-text docs in the decision frame.
    narrow = materialize(
        docs.select(
            F.col(id_col),
            F.md5(txt).alias("_th"),
            quality_fail.alias("_qfail"),
            pred_lang.alias("pred_lang"),
        )
    )
    # keeper via partial-agg groupBy + join back (skew-safe; see module
    # docstring) — identical result to a min-over-window on the hash
    keepers = narrow.groupBy("_th").agg(F.min(F.col(id_col)).alias("keeper"))
    base = narrow.join(keepers, "_th")

    cont = ngram_decontaminate(docs, benchmark, id_col, text_col, n=n).select(
        id_col, "is_contaminated"
    )

    out = base.join(cont, id_col)
    reason = (
        F.when(F.col(id_col) != F.col("keeper"), "exact_dup")
        .when(F.col("is_contaminated"), "contaminated")
        .when(F.col("_qfail"), "quality")
        .when(~F.col("pred_lang").isin(*allowed_langs), "lang")
        .otherwise("")
    )
    return out.select(
        F.col(id_col),
        F.col("keeper"),
        reason.alias("drop_reason"),
        (reason == "").alias("is_kept"),
    )
