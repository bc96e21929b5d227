"""Model-based document quality scoring (round-3 VERDICT ask #5).

The production twin of the heuristic ``quality_score``: a broadcast
LINEAR classifier over bag-of-token features — the fastText-style shape
every large-scale curation pipeline runs (CCNet/RefinedWeb-style
"looks like good text" filters). The reference has no analog (its
quality notion is ontology-side); the bar is the published pipeline
shape: train a linear model on a labeled sample, broadcast the weights,
score the corpus map-side.

Model: Naive-Bayes log-odds weights over BINARIZED feature presence
(the NBSVM feature construction), where a document's features are its
distinct word tokens PLUS the boundary-padded character trigrams of
every token — fastText's subword trick, and the part that matters: a
held-out document sharing zero whole words with the training sample
(the routine case for gibberish) still lands on trained trigram
features ('the' → '<th', 'the', 'he>'), so OOV text is scored by its
character statistics instead of defaulting to the decision boundary —

    w(f)     = ln((df_pos + α) / (df_neg + α))
    bias     = ln((n_pos + α) / (n_neg + α))
    score(d) = sigmoid(bias + Σ_{f ∈ features(d)} w(f))

Closed-form training means the whole path — training included — is
deterministic and replays exactly in SQL (the ``model_quality_score``
registry oracle re-derives the weights with the same GROUP BYs).

Scale shape: training is one partial-aggregated groupBy over
(token → doc-frequency per class) on the labeled SAMPLE (labeled data
is always dimension-sized vs the corpus); ``min_df`` prunes the
hapax-legomena tail map-side after aggregation — a *filter*, not a
global top-V sort, so no single-partition rank. Scoring joins the
corpus token stream to the broadcast weights table (map-side, no
shuffle — token skew is irrelevant under a broadcast join) and
partial-aggregates the per-doc sum. When the vocabulary outgrows a
broadcast (~GB), pass ``broadcast_weights=False`` to fall back to a
shuffle equi-join and let AQE skew-split the stop-token keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _features(text_col) -> F.Column:
    # lower + whitespace split, then per token: the word itself plus
    # the char trigrams of '<word>' (boundary-padded, so short words
    # still yield one trigram). Distinct over the union = binarized
    # presence features; identical construction on the train and score
    # sides and in the DuckDB oracle.
    toks = F.filter(
        F.split(F.lower(F.coalesce(text_col, F.lit(""))), r"\s+"),
        lambda t: t != "",
    )

    def trigrams(t):
        padded = F.concat(F.lit("<"), t, F.lit(">"))
        return F.transform(
            F.sequence(F.lit(1), F.length(padded) - 2),
            lambda i: padded.substr(i, F.lit(3)),
        )

    return F.array_distinct(F.concat(toks, F.flatten(F.transform(toks, trigrams))))


def train_quality_weights(
    labeled: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    label_col: str = "label",
    alpha: float = 0.5,
    min_df: int = 1,
) -> tuple[DataFrame, float]:
    """→ (weights DataFrame (token, weight), bias).

    ``labeled``: one row per training doc, ``label_col`` ∈ {0, 1}
    (1 = good). Doc frequencies are binarized (a token counts once per
    doc); ``min_df`` drops features seen in fewer than that many docs
    overall — the scale lever that keeps the vocabulary bounded
    without a global sort. The bias comes from one tiny 2-row
    aggregate collected to the driver."""
    lbl = F.col(label_col).cast("int")
    tok = labeled.select(
        lbl.alias("_y"), F.explode(_features(F.col(text_col))).alias("token")
    )
    weights = (
        tok.groupBy("token")
        .agg(
            F.sum("_y").alias("_df_pos"),
            F.sum(1 - F.col("_y")).alias("_df_neg"),
        )
        .where(F.col("_df_pos") + F.col("_df_neg") >= min_df)
        .select(
            "token",
            F.log(
                (F.col("_df_pos") + F.lit(alpha))
                / (F.col("_df_neg") + F.lit(alpha))
            ).alias("weight"),
        )
    )
    counts = labeled.select(
        F.sum(lbl).alias("p"), F.sum(1 - lbl).alias("n")
    ).collect()[0]
    import math

    bias = math.log((counts["p"] + alpha) / (counts["n"] + alpha))
    # the weights table is a MODEL ARTIFACT (dimension-sized by
    # contract): materialize it at training time so every downstream
    # scoring job broadcasts a tiny computed table instead of re-running
    # the training aggregation — and its corpus scans — per reference
    from sifr_project_java_ontology_processing_spark.operators.materialize import (
        materialize,
    )

    return materialize(weights), bias


def score_quality_model(
    docs: DataFrame,
    weights: DataFrame,
    bias: float,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    broadcast_weights: bool = True,
) -> DataFrame:
    """→ (id, model_quality, is_good) for EVERY doc (empty/NULL text
    scores sigmoid(bias)). Map-side under the default broadcast join;
    unknown features contribute 0 (coalesce, not dropped rows).

    ``is_good`` is STRICT (score > threshold): a document carrying zero
    trained evidence sits exactly at sigmoid(bias), and a curation
    filter must reject no-evidence docs, not wave them through on the
    boundary."""
    w = F.broadcast(weights) if broadcast_weights else weights
    tk = docs.select(
        F.col(id_col),
        F.explode_outer(_features(F.col(text_col))).alias("token"),
    )
    z = (
        tk.join(w, "token", "left")
        .groupBy(id_col)
        .agg(F.sum(F.coalesce(F.col("weight"), F.lit(0.0))).alias("_z"))
    )
    score = F.lit(1.0) / (F.lit(1.0) + F.exp(-(F.lit(float(bias)) + F.col("_z"))))
    return z.select(
        F.col(id_col),
        F.round(score, 6).alias("model_quality"),
        (score > threshold).alias("is_good"),
    )


def evaluate_quality_model(
    scored: DataFrame,
    golden: DataFrame,
    id_col: str = "doc_id",
    label_col: str = "label",
) -> dict[str, float]:
    """Accuracy/precision/recall of ``is_good`` against a labeled
    golden set — the same harness shape as
    ``linkscore.evaluate_link_quality``. Driver-side on the golden set
    (golden sets are tiny by definition)."""
    j = scored.join(golden.select(id_col, label_col), id_col).select(
        F.col("is_good").cast("int").alias("_pred"),
        F.col(label_col).cast("int").alias("_y"),
    )
    agg = j.select(
        F.count("*").alias("n"),
        F.sum((F.col("_pred") == F.col("_y")).cast("int")).alias("correct"),
        F.sum((F.col("_pred") * F.col("_y"))).alias("tp"),
        F.sum(F.col("_pred")).alias("pp"),
        F.sum(F.col("_y")).alias("ap"),
    ).collect()[0]
    # Spark sum over zero rows is NULL, not 0 — an empty or mis-keyed
    # golden set must report zero metrics, not crash the harness
    n = agg["n"] or 0
    correct, tp, pp, ap = (agg[k] or 0 for k in ("correct", "tp", "pp", "ap"))
    return {
        "accuracy": (correct / n) if n else 0.0,
        "precision": (tp / pp) if pp else 0.0,
        "recall": (tp / ap) if ap else 0.0,
        "n": float(n),
    }


def weights_as_dict(weights: DataFrame) -> dict[str, float]:
    """Collect the (dimension-sized) weights table into the plain-dict
    model form ``score_quality_inline`` ships as a literal."""
    return {r["token"]: r["weight"] for r in weights.collect()}


def score_quality_inline(
    docs: DataFrame,
    weights: dict[str, float],
    bias: float,
    text_col: str = "text",
    threshold: float = 0.5,
    score_col: str = "model_quality",
    flag_col: str = "is_good",
) -> DataFrame:
    """Per-ROW scorer: same model, zero shuffle — appends
    (model_quality, is_good) columns instead of aggregating.

    The weights ride as a constant-folded ``map_from_arrays`` literal
    and the per-doc sum is an ``F.aggregate`` fold over the SAME
    ``_features`` expression the trainer uses, so scores are equal to
    ``score_quality_model``'s by construction (parity-gated in
    test_quality_model). Because there is no groupBy, this form drops
    straight into a STREAMING query (the grouped scorer would be a
    stateful streaming aggregation); it is also the cheapest batch
    shape when the vocabulary is literal-sized (≲100k features — above
    that, use the broadcast-join scorer)."""
    if weights:
        keys = sorted(weights)
        wmap = F.map_from_arrays(
            F.lit([k for k in keys]),
            F.lit([float(weights[k]) for k in keys]),
        )
        z = F.aggregate(
            _features(F.col(text_col)),
            F.lit(0.0),
            lambda acc, f: acc + F.coalesce(wmap[f], F.lit(0.0)),
        )
    else:
        z = F.lit(0.0)
    score = F.lit(1.0) / (F.lit(1.0) + F.exp(-(F.lit(float(bias)) + z)))
    return docs.withColumn(score_col, F.round(score, 6)).withColumn(
        flag_col, score > threshold
    )
