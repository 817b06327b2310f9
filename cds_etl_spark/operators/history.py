"""Historical-value state (O28/O29).

Reference (`add_historical_value` cds_transformation_functions.py:420-445,
`print_historical_value` :448-466): per configured (node, property),
the current comma-joined value list is union-merged into a YAML
key→values store keyed by the node id, sorted descending, and the
emitted study table is re-stamped with the full comma-joined history.

Engine re-expression: the store is a parquet state table
(key string, value string) and the merge is pure DataFrame algebra —
union + collect_set — i.e. the MERGE-INTO upsert pattern without
requiring Delta. Re-stamping is a broadcast join against the
aggregated history instead of a re-read-rewrite of emitted TSVs.

Storage layout: ``state_path`` is a directory of GENERATIONS
(``gen-000001``, ``gen-000002``, …); every merge writes a NEW
generation (staged under a dot-prefixed temp dir, renamed into place
atomically) and never deletes an old one during the run. That makes
the state multi-reader-safe within a batch: a stamped frame built
earlier in the run holds a lazy scan pinned to the generation it read
(Spark file indexes resolve part files at plan time), and the CLI
writes all stamped tables only after the whole file loop — deleting a
superseded generation mid-run would FileNotFound those frames. Prior
runs' generations are pruned down to the latest once per process,
before anything can pin them; a crash at any point leaves the previous
generation intact (generation count within a run is one per merge —
bounded by the batch's file × property count). Legacy single-parquet
state files migrate into generation 1 on first touch.

Concurrency contract: ONE writer process per ``state_path`` (matching
the reference, whose YAML store has the same constraint). The
generation rename retries on number collision so a violating second
writer cannot corrupt the store, but concurrent merges still serialize
by arrival — a batch merged concurrently from two processes must be
re-merged to be complete. Multi-READER safety (including readers in
the same process pinning older generations) is full, per above.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cds_etl_spark.operators.frames import literal_frame

NodeTables = dict[str, DataFrame]

STATE_SCHEMA = "key string, value string"

# State paths this process has already migrated/pruned. Pruning must
# happen at most once per process and BEFORE any stamped frame can pin
# a generation's files — see module docstring.
_INITIALIZED: set[str] = set()


def _rm(path: str) -> None:
    if os.path.isdir(path):
        shutil.rmtree(path, ignore_errors=True)
    elif os.path.exists(path):
        os.remove(path)


def _gen_names(path: str) -> list[str]:
    if not os.path.isdir(path):
        return []
    return sorted(d for d in os.listdir(path) if d.startswith("gen-"))


def _init_state(spark: SparkSession, path: str) -> None:
    """Once per (process, path): drop stale temp dirs, prune prior
    runs' generations to the latest, and migrate legacy layouts."""
    if path in _INITIALIZED:
        return
    _INITIALIZED.add(path)
    if os.path.isdir(path):
        for d in os.listdir(path):
            if d.startswith(".tmp-gen-"):
                _rm(os.path.join(path, d))
    gens = _gen_names(path)
    if gens:
        for g in gens[:-1]:
            _rm(os.path.join(path, g))
        return
    if os.path.exists(path):
        # Legacy layout: `path` IS the parquet file/dir. Rewrite it as
        # generation 1 (the write materializes the read, so replacing
        # the source afterwards is safe).
        mig = path + ".migrating"
        _rm(mig)
        spark.read.parquet(path).coalesce(1).write.mode("overwrite").parquet(mig)
        _rm(path)
        os.makedirs(path)
        os.rename(mig, os.path.join(path, "gen-000001"))


def _latest_gen(path: str) -> str | None:
    gens = _gen_names(path)
    return os.path.join(path, gens[-1]) if gens else None


def _read_state(spark: SparkSession, path: str) -> DataFrame:
    _init_state(spark, path)
    latest = _latest_gen(path)
    if latest is not None:
        return spark.read.parquet(latest)
    return literal_frame(spark, [], STATE_SCHEMA)


def add_historical_value(
    df: DataFrame, key_col: str, value_col: str, state_path: str
) -> None:
    """Merge this batch's values into the state table.

    The batch side contributes (key, exploded trimmed values); the
    merge is a distinct union — idempotent re-runs, no read-modify-
    write loop per key like the reference's YAML rewrite. The merged
    result lands as a NEW generation (atomic rename; earlier
    generations stay readable for frames already built this run)."""
    spark = df.sparkSession
    batch = df.select(
        F.col(f"`{key_col}`").cast("string").alias("key"),
        F.explode(F.split(F.col(f"`{value_col}`").cast("string"), ",")).alias("value"),
    ).select("key", F.trim("value").alias("value")).filter(F.col("value") != "")
    merged = _read_state(spark, state_path).unionByName(batch).distinct()
    gens = _gen_names(state_path)
    nxt = int(gens[-1][4:]) + 1 if gens else 1
    tmp = os.path.join(state_path, f".tmp-gen-{nxt:06d}-{os.getpid()}")
    os.makedirs(state_path, exist_ok=True)
    _rm(tmp)
    merged.coalesce(1).write.mode("overwrite").parquet(tmp)
    # Claim the next free generation number. Two processes racing the
    # same state_path can compute the same `nxt`; POSIX rename onto an
    # existing non-empty directory fails (EEXIST/ENOTEMPTY), so on
    # collision re-scan and try the next number instead of clobbering.
    # (NOTE: this keeps concurrent writers from corrupting the store,
    # but their merges still serialize by arrival — a loser's merge
    # will not CONTAIN the winner's concurrent rows. See module
    # docstring: one writer process per state_path is the contract.)
    while True:
        try:
            os.rename(tmp, os.path.join(state_path, f"gen-{nxt:06d}"))
            break
        except OSError:
            taken = {int(g[4:]) for g in _gen_names(state_path)}
            nxt = max(taken, default=0) + 1
            if nxt in taken:  # pragma: no cover - defensive
                raise


def stamp_historical_value(
    df: DataFrame, key_col: str, value_col: str, state_path: str
) -> DataFrame:
    """Overwrite `value_col` with the full comma-joined history,
    sorted descending (reference sorts reverse=True, :443)."""
    spark = df.sparkSession
    history = (
        _read_state(spark, state_path)
        .groupBy("key")
        .agg(
            F.array_join(F.reverse(F.array_sort(F.collect_set("value"))), ",").alias("_hist")
        )
    )
    joined = df.join(
        F.broadcast(history), F.col(f"`{key_col}`").cast("string") == F.col("key"), "left"
    )
    return joined.withColumn(
        value_col, F.coalesce(F.col("_hist"), F.col(f"`{value_col}`"))
    ).drop("key", "_hist")
