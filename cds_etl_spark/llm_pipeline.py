"""End-to-end LLM pretraining-data pipeline — the composed form of the
LLM-extension operators, the way pipeline.py composes the reference's
CDS transform (EP1).

Stages (each individually oracle-checked by its own queries() entry):

1. language filter        operators/text_analysis.language_id
2. quality filter         operators/text_analysis.quality_score +
                          top_ngram_fraction (repetition gate)
3. exact dedup            operators/dedup.exact_dedup keep-first
4. near-dup cluster dedup operators/dedup.minhash_lsh_pairs →
                          operators/components.connected_components →
                          dedup_keep_canonical
5. decontamination        operators/retrieval.decontaminate vs a
                          probe (benchmark) set
6. sequence packing       operators/packing.chunk_assignments

The returned manifest is the (doc → training-chunk) assignment a
downstream tokenizer/writer consumes.

Scale notes: the stages are ordered cheapest-first so each shuffle
sees fewer rows than the one before (filters are row-local; exact
dedup shuffles 32-byte hashes; LSH only shuffles band keys; the
probe side of decontamination is broadcast). The one inherently
sequential piece — packing's running sum — is sharded by language.

r15: the stage boundaries (``filtered``, ``deduped``, ``clustered``)
are materialized instead of staying pure plans.  Each stage is
referenced at least twice downstream (survivor semi-join, cluster
anti-join, contamination anti-join) and pure-plan diamonds
re-evaluate the whole upstream chain per reference — the lazy form
re-ran the language/quality/shingle computation up to 8× for the
manifest.  The corpus input is also spread across cores first
(``spread_scan``): a single-file documents scan serialized every
row-local text stage into one task.

r16: the stage tables are CORPUS-SCALE (they shrink from the input
but scale with it), so the r15 eager ``localCheckpoint`` was the
wrong pin — executor-local blocks with no recompute path mean an
executor loss fails the whole pipeline, and at TB intermediates the
blocks fight shuffle files for local disk.  ``pin_stage(_, "corpus")``
(operators/pin.py) persists MEMORY_AND_DISK instead: one computation
serves every reference, lineage survives executor loss, partitions
spill instead of pinning memory.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cds_etl_spark.operators.components import (
    connected_components,
    dedup_keep_canonical,
)
from cds_etl_spark.operators.dedup import exact_dedup, minhash_lsh_pairs
from cds_etl_spark.operators.packing import chunk_assignments
from cds_etl_spark.operators.pin import pin_stage
from cds_etl_spark.operators.retrieval import decontaminate
from cds_etl_spark.operators.skew import spread_scan
from cds_etl_spark.operators.text_analysis import (
    language_id,
    quality_score,
    top_ngram_fraction,
)


def prepare_training_data(
    docs: DataFrame,
    probe: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    languages: tuple[str, ...] = ("en",),
    min_quality: float = 0.5,
    max_repetition: float = 0.5,
    min_jaccard: float = 0.5,
    chunk_budget: int = 256,
) -> dict[str, DataFrame]:
    """Run the full pipeline; returns every intermediate stage keyed by
    name: ``filtered``, ``deduped``, ``clustered``, ``clean``,
    ``manifest``. Building them is not lazy: the stage pins and the
    connected-components rounds run Spark jobs before this returns
    (38 of a 3000-document run's 44 jobs); the returned frames are
    lazy over those pins.

    ``probe`` is the held-out benchmark set to decontaminate against
    (skipped when None). ``manifest`` is one row per (doc, chunk):
    the packing assignment over the surviving corpus, sharded by the
    detected language."""
    txt = F.col(text_col)

    docs = spread_scan(docs, id_col)
    lang_ok = docs.withColumn("lang_guess", language_id(txt)).filter(
        F.col("lang_guess").isin(list(languages))
    )
    rep = top_ngram_fraction(docs, id_col, text_col, n=2).select(
        id_col, "top_fraction"
    )
    filtered = (
        lang_ok.withColumn("quality", quality_score(txt))
        .filter(F.col("quality") >= min_quality)
        .join(rep, id_col, "left")
        .filter(
            F.coalesce(F.col("top_fraction"), F.lit(0.0)) <= max_repetition
        )
        .drop("top_fraction")
    )
    filtered = pin_stage(filtered, "corpus")

    survivors = exact_dedup(filtered, text_col, id_col).select(id_col)
    deduped = pin_stage(
        filtered.join(survivors, id_col, "left_semi"), "corpus"
    )

    pairs = minhash_lsh_pairs(
        deduped, id_col=id_col, text_col=text_col, min_jaccard=min_jaccard
    ).select(F.col("d1"), F.col("d2"))
    comps = connected_components(pairs, "d1", "d2")
    clustered = pin_stage(
        dedup_keep_canonical(deduped, id_col, comps), "corpus"
    )

    clean = clustered
    if probe is not None:
        contaminated = decontaminate(
            clustered, probe, id_col, text_col
        ).select(id_col)
        clean = clustered.join(contaminated, id_col, "left_anti")

    manifest = chunk_assignments(
        clean,
        id_col,
        F.size(F.split(txt, " ")),
        budget=chunk_budget,
        shard_col="lang_guess",
    )
    return {
        "filtered": filtered,
        "deduped": deduped,
        "clustered": clustered,
        "clean": clean,
        "manifest": manifest,
    }
