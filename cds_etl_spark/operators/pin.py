"""Size-aware stage-materialization policy (r16, guide §5).

A multiply-referenced DataFrame subtree is a pure-plan diamond: Spark
re-executes the whole subtree once per reference (exchange reuse is
opportunistic and rarely fires across these shapes). r15 broke those
diamonds with eager ``localCheckpoint`` everywhere. That is the right
tool only for BOUNDED tables: ``localCheckpoint`` truncates lineage
onto executor-local block storage, so

* an executor loss makes the job unrecoverable — there is no recompute
  path left for the lost blocks, the job can only fail; and
* at TB-scale intermediates the pinned blocks compete with shuffle
  files for executor local disk (guide §5).

``pin_stage(df, scope)`` picks the mechanism by boundedness class —
the broadcast-allowlist precedent: every call site declares WHY its
table is safe to pin the way it is pinned.

``"bounded"``
    Size bounded by a CONSTANT of the problem, not the input: literal
    grids, quantile rows, confusion matrices (≤ |langs|²), per-flag
    totals, centroid tables. Eager ``localCheckpoint``: blocks are
    trivially small, re-running the job after an executor loss is
    cheap, and the eager materialization is deterministic (exactly one
    build, never raced).

``"corpus"``
    Scales with the input: filtered corpora, token streams, edge sets,
    candidate-pair lists, posting lists. Default mechanism is
    :func:`cut_lineage`: in production (a checkpoint dir is set on the
    SparkContext) the stage lands on DURABLE storage via reliable
    ``checkpoint()`` — recoverable after executor loss, off the
    shuffle disks; locally it is the same ``localCheckpoint`` the
    bench has always measured, so no fixture-only cost is added.

    ``via="persist"`` opts a site into ``persist(MEMORY_AND_DISK)``
    instead: the columnar in-memory cache keeps LINEAGE (executor loss
    recomputes lost partitions) and compresses wide string-heavy rows
    well — measured faster than the row-block checkpoint for the
    token-stream / pair-list / shingle-set pins (qs137 cold 4.2→3.1 s,
    qs293 9.2→6.3 s, qs341 3.5→2.8 s) but SLOWER for narrow bigint
    edge tables and cheap subtrees, where batch compression costs more
    than it saves (qs108 cold 9.4→13.9 s — left on cut_lineage).
    Eager persist runs one ``count()`` to populate the cache
    deterministically: a lazy persist lets independent stages of the
    SAME job race to compute the uncached partitions, paying the
    diamond again (InMemoryRelation batches always hold every column
    of the cached plan, so the count cannot under-fill the cache).

``"iterative"``
    The per-round frame of a fixpoint loop (connected components,
    label propagation, pagerank, BPE merges), and ID validation's one
    cut per node: its deduped frame annotated with the id verdicts,
    which the node table, the failure ids, both reports and the
    cascades of the nodes judged after it all read. Caching is NOT
    enough here: the *logical plan* doubles per round and analysis
    itself stalls, so the plan must be truncated —
    :func:`cut_lineage`, always.

Scale note: nothing here is tuned to the local fixture. A production
session opts into reliable checkpoints by calling
``spark.sparkContext.setCheckpointDir(<durable path>)`` once; local
sessions leave it unset and get the executor-local behaviour whose
cost the bench measures.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

_SCOPES = ("bounded", "corpus", "iterative")


def pin_stage(
    df: DataFrame,
    scope: str,
    eager: bool = True,
    via: str | None = None,
) -> DataFrame:
    """Materialize a multiply-referenced subtree once; see module doc.

    ``scope`` declares the boundedness class (why the pin is safe);
    ``via="persist"`` opts a corpus-scale site into the columnar cache
    when that measured faster (string-heavy rows).
    """
    if scope not in _SCOPES:
        raise ValueError(
            f"pin_stage scope must be bounded|corpus|iterative, got {scope!r}"
        )
    if via == "persist":
        if scope != "corpus":
            raise ValueError('via="persist" is only for scope="corpus"')
        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        if eager:
            df.count()
        return df
    if via is not None:
        raise ValueError(f'via must be None or "persist", got {via!r}')
    if scope == "bounded":
        return df.localCheckpoint(eager=eager)
    return cut_lineage(df, eager=eager)


def cut_lineage(df: DataFrame, eager: bool = True) -> DataFrame:
    """Truncate a plan: reliable ``checkpoint()`` when the context has
    a checkpoint dir (production: durable, off the shuffle disks),
    ``localCheckpoint`` otherwise (local/test, where an executor loss
    is a process death anyway)."""
    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir() is not None:
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)
