"""The package's one materialization primitive and its one small-input
probe.

``materialize`` is the only place the package calls ``localCheckpoint``.
Operators use it for two reasons:

  * an intermediate that several plan branches consume (the pruned
    token stream, LSH band/candidate frames, entailment strata, schema
    slices). Spark does not dedupe duplicated subtrees — divergent
    column pruning defeats exchange canonicalization (verified
    empirically, round 3) — so without it each consumer re-runs the
    whole upstream pipeline, including Python UDF passes;
  * an iterative loop (PageRank, closure/BFS frontiers, star rounds,
    semi-naive rule rounds), where each round's result cuts the
    lineage so round k's plan does not contain all k earlier rounds.

``eager=True`` computes the frame now, one job. Use it when the frame's
consumers run inside ONE later job (a lazy checkpoint would let the
concurrent branches race and each compute the unpopulated cache) or
when the caller probes the result right away. ``eager=False`` marks the
frame and materializes it bottom-up on the first action, which keeps
plan construction job-free.

Storage level, chosen here and nowhere else: on a cluster master the
blocks are replicated twice, so a single executor loss — the routine
event on a large preemptible cluster — does not abort the job the way
an unreplicated local checkpoint would. Local mode has one block
manager, where a second replica only produces a warning per block, so
it keeps one copy. The level is MEMORY_AND_DISK, Spark's default for
local checkpoints. DISK_ONLY was the other candidate, so the two were
measured with kgbench (``local[4]``, seed 1, a shared 4-core/15 GB
host, three interleaved runs each). Median wall_s with MEMORY_AND_DISK
vs DISK_ONLY: kg_build 10.76 s vs 11.35 s, kg_reason 18.40 s vs 18.26 s.
Peak memory was the same (kg_build 4,352 vs 4,361 MiB). DISK_ONLY
gained nothing on kg_reason and was slower on kg_build, so the
memory-first level stays. The run-to-run spread on that host was wider
than either difference.

A simultaneous loss of both replicas still fails the job; use
``DataFrame.checkpoint`` to reliable storage where a checkpoint dir is
configured (see canonicalize.connected_components' ``reliable`` flag).

``collect_if_small`` is the one probe of the driver/distributed hybrids
(transitive closure, connected components, RDF-list walks): one
``limit(max_rows + 1)`` collect that either returns the whole input or
says it is too big, without a full ``count()``. ``DRIVER_ROWS_MAX`` is
the shared bound for inputs that are dimension-sized by contract (a
schema, a mapping table): collecting that many rows costs the same as
building one broadcast side.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Row

DRIVER_ROWS_MAX = 65_536


def materialize(df: DataFrame, *, eager: bool = True) -> DataFrame:
    """Checkpoint ``df`` (now, or on its first action when
    ``eager=False``) and return the lineage-cut frame every downstream
    branch reads from."""
    master = df.sparkSession.sparkContext.master or ""
    level = (
        StorageLevel.MEMORY_AND_DISK
        if master.startswith("local")
        else StorageLevel.MEMORY_AND_DISK_2
    )
    try:
        return df.localCheckpoint(eager=eager, storageLevel=level)
    except TypeError:  # PySpark < 4.0 takes no storage level
        return df.localCheckpoint(eager=eager)


def collect_if_small(df: DataFrame, max_rows: int) -> list[Row] | None:
    """All rows of ``df`` if it has at most ``max_rows`` of them, else
    None."""
    rows = df.limit(max_rows + 1).collect()
    return rows if len(rows) <= max_rows else None
