"""CCNet-style n-gram language-model perplexity scoring.

The quality signal every large web-text curation pipeline computes
(CCNet, RefinedWeb, FineWeb ablations): train a small n-gram LM on a
reference corpus, score every document's per-token cross-entropy
against it, and bucket the corpus into head/middle/tail. Documents a
clean-language model finds "surprising" (high perplexity) are
boilerplate, gibberish, or the wrong language; CCNet keeps the low-
perplexity head/middle for LM training. The reference repo has no
analog (its quality notion is ontology-side); the published pipeline
shape is the bar — CCNet trains KenLM offline and broadcasts fixed
per-language thresholds, which is exactly the shape here.

Model: word-bigram LM with Lidstone (add-α) smoothing over the
boundary-padded token stream ``<s> w1 ... wn </s>``:

    P(w | c) = (count(c, w) + α) / (count(c) + α · (V + 1))

with V = the training vocabulary (distinct successor tokens) and the
``+ 1`` reserving mass for unseen tokens — an out-of-vocabulary
successor scores α / (count(c) + α(V+1)) and an unseen context
1 / (V + 1). Closed-form counting means training AND scoring replay
exactly in SQL (the ``lm_perplexity`` registry oracle re-derives the
counts with the same GROUP BYs), unlike a KenLM binary.

Per document: cross_entropy = −(1/n) Σ ln P(wᵢ | wᵢ₋₁) over its n
bigrams, perplexity = exp(cross_entropy).

Scale shape: training is two partial-aggregated groupBys over the
REFERENCE sample (dimension-sized by construction — CCNet trains on
Wikipedia, not the crawl). Scoring explodes the corpus token stream
map-side, left-joins the two broadcast count tables (no shuffle on
the corpus; token skew is irrelevant under broadcast), and partial-
aggregates the per-doc sum — one narrow exchange keyed by doc id.
When the model outgrows a broadcast (~GB of distinct bigrams), pass
``broadcast_model=False`` for shuffle equi-joins and let AQE split
the stop-word context keys. Bucketing at scale uses fixed thresholds
(CCNet ships them per language as artifacts; ``perplexity_thresholds``
derives them from a scored sample with approxQuantile) — never a
global sort of the corpus.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .materialize import materialize

BOS = "<s>"
EOS = "</s>"


def _bigram_pairs(text_col) -> F.Column:
    """(ctx, tok) bigrams of the boundary-padded, lower-cased,
    whitespace-tokenized text — pure codegen expressions, no UDF.
    Empty/NULL text still yields the single (<s>, </s>) bigram, so
    every document gets a score.

    The padded token array is LET-BOUND via a single-element
    ``transform`` before use: Catalyst does not common-subexpression-
    eliminate inside higher-order lambdas, so the previous
    ``element_at(padded, i)``-per-index shape re-evaluated the whole
    split/filter/concat once PER TOKEN — O(n²) per document (measured
    31× slower at sf0.1). Binding ``padded`` to a lambda variable
    evaluates it once; ``zip_with`` over the two shifted slices then
    reads the materialized array."""
    toks = F.filter(
        F.split(F.lower(F.coalesce(text_col, F.lit(""))), r"\s+"),
        lambda t: t != "",
    )
    padded = F.concat(F.array(F.lit(BOS)), toks, F.array(F.lit(EOS)))

    def _pairs(pt):
        n1 = F.size(pt) - 1
        return F.zip_with(
            F.slice(pt, 1, n1),
            F.slice(pt, 2, n1),
            lambda a, b: F.struct(a.alias("ctx"), b.alias("tok")),
        )

    return F.element_at(F.transform(F.array(padded), _pairs), 1)


@dataclass
class WordBigramLM:
    """Trained model artifact: two count dimensions + scalars.
    ``bigrams``: (ctx, tok, c) — smoothing numerator counts.
    ``contexts``: (ctx, cc) — smoothing denominator counts.
    ``vocab_size``: distinct successor tokens V (includes </s>,
    excludes <s>, which never follows anything)."""

    bigrams: DataFrame
    contexts: DataFrame
    vocab_size: int
    alpha: float


def train_word_lm(
    corpus: DataFrame, text_col: str = "text", alpha: float = 0.1
) -> WordBigramLM:
    """Count bigram and context frequencies over the reference corpus.

    ONE tokenization pass over the corpus (the bigram groupBy, partial-
    aggregated map-side); the context counts and the vocabulary size
    are aggregations OF THE BIGRAM COUNTS — count(ctx) over pairs is
    sum(c) over (ctx, tok, c), and distinct successors over pairs are
    distinct tok over the count table — so both derive from the
    dimension-sized model frame instead of re-scanning the corpus
    (guide §2.3: aggregate before you shuffle/scan again). The MODEL
    frames (the trained artifact) are materialized eagerly, so training
    several models (the per-language CCNet shape) never accumulates
    reference-corpus-sized caches."""
    pairs = corpus.select(
        F.explode(_bigram_pairs(F.col(text_col))).alias("p")
    ).select("p.ctx", "p.tok")
    bigrams = materialize(pairs.groupBy("ctx", "tok").agg(F.count("*").alias("c")))
    contexts = materialize(bigrams.groupBy("ctx").agg(F.sum("c").alias("cc")))
    vocab_size = bigrams.select("tok").distinct().count()
    return WordBigramLM(
        bigrams=bigrams, contexts=contexts,
        vocab_size=vocab_size, alpha=alpha,
    )


def score_perplexity(
    docs: DataFrame,
    lm: WordBigramLM,
    id_col: str | list[str] = "doc_id",
    text_col: str = "text",
    broadcast_model: bool = True,
) -> DataFrame:
    """→ (id..., n_bigrams, cross_entropy, perplexity) for every doc.
    ``id_col`` may be a list for composite keys (e.g. scoring several
    text VARIANTS of each doc in one pass instead of one scan each).

    Map-side explode → two broadcast left joins against the count
    dimensions → one partial-aggregated groupBy on the doc id. An
    unseen (ctx, tok) takes the α numerator; an unseen ctx takes the
    1/(V+1) floor — no document is unscoreable."""
    id_cols = [id_col] if isinstance(id_col, str) else list(id_col)
    bi, cx = lm.bigrams, lm.contexts
    if broadcast_model:
        bi, cx = F.broadcast(bi), F.broadcast(cx)
    exploded = docs.select(
        *id_cols, F.explode(_bigram_pairs(F.col(text_col))).alias("p")
    ).select(*id_cols, "p.ctx", "p.tok")
    denom_v = F.lit(float(lm.alpha)) * (lm.vocab_size + 1)
    logp = F.log(
        (F.coalesce(F.col("c"), F.lit(0)) + lm.alpha)
        / (F.coalesce(F.col("cc"), F.lit(0)) + denom_v)
    )
    scored = (
        exploded.join(bi, on=["ctx", "tok"], how="left")
        .join(cx, on="ctx", how="left")
        .groupBy(*id_cols)
        .agg(
            F.count("*").alias("n_bigrams"),
            (-F.sum(logp) / F.count("*")).alias("cross_entropy"),
        )
    )
    return scored.withColumn("perplexity", F.exp(F.col("cross_entropy")))


def perplexity_thresholds(
    scored: DataFrame,
    fracs: tuple[float, float] = (1 / 3, 2 / 3),
    relative_error: float = 1e-4,
) -> tuple[float, float]:
    """CCNet's head/middle/tail cutpoints from a scored SAMPLE —
    approxQuantile (Greenwald-Khanna, one pass, no global sort). At
    production scale run this on a hash_sample of the scored frame
    and ship the two floats as the per-language artifact."""
    lo, hi = scored.approxQuantile(
        "cross_entropy", [fracs[0], fracs[1]], relative_error
    )
    return lo, hi


def bucket_perplexity(
    scored: DataFrame, t_head: float, t_middle: float
) -> DataFrame:
    """Map-only bucketing against fixed thresholds (the artifact CCNet
    ships per language): head ≤ t_head < middle ≤ t_middle < tail."""
    ce = F.col("cross_entropy")
    return scored.withColumn(
        "bucket",
        F.when(ce <= t_head, "head")
        .when(ce <= t_middle, "middle")
        .otherwise("tail"),
    )
