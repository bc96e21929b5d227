"""Deterministic corpus sampling / mixing / packing (training-data
pipeline mandate — the operations between curation and the trainer).

No reference analog (the reference processes whole ontologies); these
are the north_star's corpus-side companions. Everything here is
DETERMINISTIC BY CONTENT KEY, never by RNG state: a sample decision is
a pure function of (id, seed), so it is stable across runs, retries,
partitionings and cluster sizes — the property that makes 100 TB
pipelines resumable and their ablations reproducible. All decisions
are md5-prefix thresholds, which the DuckDB oracles replay exactly
(registry queries ``corpus_sample`` / ``corpus_upsample`` /
``sequence_pack``).

Scale shapes:
  * ``hash_sample`` / ``stratified_sample`` / ``upsample`` — map-only
    column expressions (whole-stage codegen): no shuffle, no RNG, no
    driver state; filters push down through scans.
  * ``pack_sequences`` — ONE global range-partitioned sort + window
    cumsum (Spark's distributed sort); this is the concat-then-chunk
    packing GPT-style pipelines use, and the global order is what
    makes the packing reproducible. For shuffle-free approximate
    packing, pre-partition by any key and pack within partitions —
    the same expressions apply per partition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_HEX_SPAN = 16**8  # md5 8-hex-char prefix space


def _threshold_hex(fraction: float) -> str:
    """fraction ∈ [0,1) → 8-hex-char threshold; compare as STRINGS
    (same-length hex compares lexicographically == numerically, and the
    comparison is identical in Spark and DuckDB)."""
    return format(int(fraction * _HEX_SPAN), "08x")


def _hash_prefix(id_col: F.Column, seed: int) -> F.Column:
    return F.substring(F.md5(F.concat(id_col.cast("string"), F.lit(f":{seed}"))), 1, 8)


def hash_sample(
    docs: DataFrame,
    fraction: float,
    id_col: str = "doc_id",
    seed: int = 42,
) -> DataFrame:
    """Keep ~``fraction`` of rows, decided per row by
    md5(id:seed) — NOT by Bernoulli RNG, so the same row is kept in
    every rerun and on every cluster size. fraction ≥ 1 keeps all."""
    if fraction >= 1.0:
        return docs
    return docs.where(
        _hash_prefix(F.col(id_col), seed) < F.lit(_threshold_hex(fraction))
    )


def stratified_sample(
    docs: DataFrame,
    fractions: dict[str, float],
    stratum_col: str,
    id_col: str = "doc_id",
    seed: int = 42,
    default_fraction: float = 0.0,
) -> DataFrame:
    """Per-stratum deterministic sampling (e.g. per language / source):
    each stratum keeps its own fraction; strata absent from
    ``fractions`` keep ``default_fraction``. The fraction table is a
    handful of literals → a when-chain expression, map-only."""
    thr = F.lit(_threshold_hex(min(default_fraction, 1.0)))
    full = F.lit(default_fraction >= 1.0)
    for stratum, frac in sorted(fractions.items()):
        cond = F.col(stratum_col) == stratum
        thr = F.when(cond, F.lit(_threshold_hex(min(frac, 1.0)))).otherwise(thr)
        full = F.when(cond, F.lit(frac >= 1.0)).otherwise(full)
    return docs.where(full | (_hash_prefix(F.col(id_col), seed) < thr))


def upsample(
    docs: DataFrame,
    rate: float,
    id_col: str = "doc_id",
    seed: int = 43,
) -> DataFrame:
    """Repeat each row ~``rate`` times (mixture weighting): every row
    gets ⌊rate⌋ copies plus one more when md5(id:seed) falls under the
    fractional part — deterministic, so a mixture re-run reproduces
    byte-identical epochs. Output adds a ``copy`` index (0-based);
    downstream keys should include it. rate < 1 degenerates to
    ``hash_sample`` with copy=0."""
    whole = int(rate)
    frac = rate - whole
    extra = (
        _hash_prefix(F.col(id_col), seed) < F.lit(_threshold_hex(frac))
    ).cast("int")
    n_copies = (F.lit(whole) + (extra if frac > 0 else F.lit(0))).alias("_n")
    return (
        docs.select("*", n_copies)
        .where(F.col("_n") > 0)
        .select(
            "*", F.explode(F.sequence(F.lit(0), F.col("_n") - 1)).alias("copy")
        )
        .drop("_n")
    )


def mix_corpora(
    docs: DataFrame,
    rates: dict[str, float],
    source_col: str = "source",
    id_col: str = "doc_id",
    seed: int = 43,
    default_rate: float = 1.0,
) -> DataFrame:
    """Weighted data mixture in ONE pass: each source stratum is
    up/down-sampled to its target rate (⌊rate⌋ copies + a deterministic
    hash-chosen extra for the fractional part — the same rule as
    ``upsample``, resolved per row by a when-chain instead of N
    unioned frames, so one scan covers every source). Adds ``copy``.

    The naive shape — filter per source, upsample each, union —
    re-scans the corpus once per source and unions S plans; this is a
    single map-only expression whatever |rates| is."""
    whole = F.lit(int(default_rate))
    thr = F.lit(_threshold_hex(default_rate - int(default_rate)))
    for stratum, rate in sorted(rates.items()):
        cond = F.col(source_col) == stratum
        whole = F.when(cond, F.lit(int(rate))).otherwise(whole)
        thr = F.when(
            cond, F.lit(_threshold_hex(rate - int(rate)))
        ).otherwise(thr)
    extra = (_hash_prefix(F.col(id_col), seed) < thr).cast("int")
    return (
        docs.select("*", (whole + extra).alias("_n"))
        .where(F.col("_n") > 0)
        .select(
            "*", F.explode(F.sequence(F.lit(0), F.col("_n") - 1)).alias("copy")
        )
        .drop("_n")
    )


def pack_sequences(
    docs: DataFrame,
    budget: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_tokens_col: str | None = None,
) -> DataFrame:
    """Concat-then-chunk sequence packing plan: documents are laid out
    in ``id_col`` order into one token stream, which is cut into
    fixed-``budget`` sequences. → (id, n_tok, start_seq, start_offset,
    end_seq): the sequence (and offset) where each document begins and
    the sequence where it ends (a document may span several).

    The global cumulative sum is the classic TWO-PHASE distributed
    prefix sum — a naked ``Window.orderBy(id)`` would move every row
    into one task, the exact single-partition trap this engine's plan
    gates exist to catch. Instead:

      1. range-repartition + sort by id (Spark's distributed sort —
         partition i holds ids strictly below partition i+1);
      2. per-partition totals (one tiny row per partition) are
         collected and prefix-summed on the driver — partition-COUNT
         data, never row data;
      3. each partition's local window cumsum (parallel — partitioned
         by ``spark_partition_id``) is shifted by its partition's
         offset via a broadcast join.

    The cut points are a pure function of the ordered token counts, so
    the packing is exactly reproducible and boundary-independent (and
    SQL-replayable — ``sequence_pack`` oracle)."""
    # NULL text would yield F.size(NULL) = -1 and silently shift every
    # later document's offsets through the cumsum — clamp to 0 tokens
    # (and clamp a provided count column the same way)
    raw_tok = (
        F.col(n_tokens_col)
        if n_tokens_col
        else F.size(F.filter(F.split(F.col(text_col), " "), lambda x: x != ""))
    )
    n_tok = F.greatest(F.coalesce(raw_tok, F.lit(0)), F.lit(0))
    src = (
        docs.select(F.col(id_col), n_tok.alias("n_tok"))
        .repartitionByRange(id_col)
        .sortWithinPartitions(id_col)
        .withColumn("_pid", F.spark_partition_id())
    )
    # the partition layout must be FROZEN across the two passes
    # (totals + final): lineage recomputation may re-sample range
    # boundaries, silently corrupting offsets
    from sifr_project_java_ontology_processing_spark.operators.materialize import (
        materialize,
    )

    src = materialize(src)
    totals = src.groupBy("_pid").agg(F.sum("n_tok").alias("_t")).collect()
    running, offsets = 0, {}
    for row in sorted(totals, key=lambda r: r["_pid"]):
        offsets[row["_pid"]] = running
        running += row["_t"]
    spark = docs.sparkSession
    off = F.broadcast(
        spark.createDataFrame(
            [(p, o) for p, o in offsets.items()], "_pid int, _off long"
        )
    )
    w = Window.partitionBy("_pid").orderBy(id_col).rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = src.join(off, "_pid").select(
        id_col,
        "n_tok",
        (F.sum("n_tok").over(w) + F.col("_off")).alias("_cum"),
    )
    start = F.col("_cum") - F.col("n_tok")
    end_tok = F.greatest(F.col("_cum") - 1, start)  # empty doc: ends where it starts
    # integer `div`, not floor(double /): token cumsums at 100 TB pass
    # 2^53 and double rounding would shift cut points by one
    tmp = cum.select(
        F.col(id_col),
        F.col("n_tok").cast("long").alias("n_tok"),
        start.alias("_s"),
        end_tok.alias("_e"),
    )
    return tmp.select(
        id_col,
        "n_tok",
        F.expr(f"_s div {budget}").alias("start_seq"),
        (F.col("_s") % budget).alias("start_offset"),
        F.expr(f"_e div {budget}").alias("end_seq"),
    )


def chunk_documents(
    docs: DataFrame,
    max_tokens: int,
    overlap: int = 0,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Split each document into token-window chunks of ``max_tokens``
    whitespace tokens with ``overlap`` tokens of left context — the
    long-document shaping pass before embedding / context-window-bound
    training (pack_sequences' complement: that concatenates short docs,
    this splits long ones).

    → (id, chunk_id, n_chunk_tokens, chunk_text); chunk_id is 0-based,
    deterministic, and chunks preserve token order. Empty docs yield
    one empty chunk (no silent row loss).

    Scale: pure Catalyst — tokenize once, ONE posexplode of a
    sequence() of window starts, slice + concat_ws per chunk. Map-only
    (zero shuffle); output row count is input tokens / stride, so the
    explode amplification is bounded by the data itself. No UDF, no
    window function, no driver loop.
    """
    if not (0 <= overlap < max_tokens):
        raise ValueError("need 0 <= overlap < max_tokens")
    stride = max_tokens - overlap
    # coalesce: NULL text must behave as empty (one 0-token chunk),
    # not poison n_chunk_tokens with NULL/-1 — same hazard
    # pack_sequences clamps for
    toks = F.filter(
        F.split(F.coalesce(F.col(text_col), F.lit("")), " "), lambda x: x != ""
    )
    # window starts: 1, 1+stride, ... (1-based slice); ceil via div
    n_chunks = F.greatest(
        F.expr(f"(size(_toks) - {overlap} + {stride} - 1) div {stride}"), F.lit(1)
    )
    base = docs.select(F.col(id_col), toks.alias("_toks")).select(
        F.col(id_col),
        "_toks",
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_id"),
    )
    chunk_toks = F.slice(F.col("_toks"), F.col("chunk_id") * stride + 1, max_tokens)
    return base.select(
        F.col(id_col),
        F.col("chunk_id").cast("long").alias("chunk_id"),
        F.size(chunk_toks).cast("long").alias("n_chunk_tokens"),
        F.concat_ws(" ", chunk_toks).alias("chunk_text"),
    )
