"""The v1.0/v1.2 seven-sheet CDS transformation (EP3 of the reference,
cds-transformation_v1.2.py:92-200), composed from the same operator set
as the v1.3 pipeline.

The v1.2 generation of the reference reads one workbook per batch file
with seven fixed sheets — Participant, Sample, File, Genomic Info,
Study, File-Participant-Sample Mapping, Diagnosis (opt) — projects six
of them onto model nodes through the raw dictionary, then wires the
relationships from sheet-local columns instead of v1.3's config-driven
PARENT_MAPPING_COLUMNS:

* diagnosis → participant: the Diagnosis sheet's own ``participant_id``
  column, carried by row (:158-160);
* participant → study: the single Study row's ``phs_accession``
  replicated to every participant (:161-166);
* sample → participant and file → sample: first-match lookups against
  the File-Participant-Sample Mapping sheet (:168-194).

Engine re-expression notes (semantics preserved, physics changed):

* The reference's per-row ``.loc[...].iloc[0]`` lookup loop is
  ``first_match_lookup`` — a broadcast join against the row-ordered
  first match per key, O(n) instead of O(n·m) and executor-parallel.
* The reference's ``random.sample`` file-id fallback is
  ``synthetic_file_id``'s deterministic xxhash64 over the natural key:
  idempotent re-runs, no driver-side RNG state (keys.py:113).
* Row-positional column copies (diagnosis participant_id) ride the
  ``_row_id`` stamped on each sheet scan, making them equi-joins that
  stay correct under any partitioning.

Reference quirks mirrored deliberately (documented, not "fixed"
silently, so outputs stay comparable):

* ``len(df_dict['study'] == 1)`` (:162) is an operator-precedence bug —
  it evaluates to the study row count, so the real gate is "study
  non-empty". We replicate only for a single-row study, which is the
  only case the reference survives anyway (its list-mult would raise a
  length-mismatch for >1 study rows).
* The file → sample attach (:192) gates on ``participant_id_list`` —
  the SAMPLE step's completeness, not the file lookup's. Faithfully
  mirrored: the file mapping column attaches exactly when the sample
  step's gate passed (and may then contain nulls for unmatched files,
  as the reference's does). Where the reference would NameError (the
  sample branch never ran), we treat the gate as closed.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cds_etl_spark.model import Model
from cds_etl_spark.operators import (
    clean_data,
    drop_internal,
    extract_node,
    normalize_strings,
    with_row_id,
)
from cds_etl_spark.operators.keys import synthetic_file_id
from cds_etl_spark.operators.projection import ROW_ID, mapped_non_null_counts
from cds_etl_spark.operators.relations import first_match_lookup

NodeTables = dict[str, DataFrame]

#: sheet → model node, in the reference's extraction order (:146-151).
SHEET_NODES: dict[str, str] = {
    "File": "file",
    "Genomic Info": "genomic_info",
    "Participant": "participant",
    "Study": "study",
    "Sample": "sample",
    "Diagnosis (opt)": "diagnosis",
}

MAPPING_SHEET = "File-Participant-Sample Mapping"


def _has_nulls(df: DataFrame, col: str) -> bool:
    """True if `col` is absent or has any null/NaN — one aggregate row.
    Mirrors the reference's ``isnull().values.any()`` gates."""
    if col not in df.columns:
        return True
    row = df.agg(
        F.count(F.lit(1)).alias("n"), F.count(F.col(f"`{col}`")).alias("nn")
    ).collect()[0]
    return row["n"] != row["nn"]


def _all_null(df: DataFrame, col: str) -> bool:
    if col not in df.columns:
        return True
    return df.agg(F.count(F.col(f"`{col}`")).alias("nn")).collect()[0]["nn"] == 0


@dataclass
class CdsPipelineV12:
    """Seven-sheet pipeline. ``run`` takes the sheet frames as read
    (raw headers); config keys mirror cds_config_example_v1.2.yaml."""

    model: Model
    raw_dict: dict[str, dict[str, str]]
    config: dict[str, Any]
    clean_dict: dict = field(default_factory=dict)

    def __post_init__(self) -> None:
        self._cached: list[DataFrame] = []

    def unpersist(self) -> None:
        """Release the sheet caches of the last ``run``. The CLI calls
        this after a workbook's tables are written — without it a
        multi-workbook batch pins 7 frames per book in executor
        storage for the life of the session."""
        for df in self._cached:
            df.unpersist()
        self._cached = []

    def run(self, sheets: dict[str, DataFrame]) -> NodeTables:
        # O3/O4 normalize + row identity per sheet. Cached: the row ids
        # feed alignment joins and must survive recomputation.
        src = {
            name: with_row_id(normalize_strings(df)).cache()
            for name, df in sheets.items()
            if name in SHEET_NODES or name == MAPPING_SHEET
        }
        self._cached.extend(src.values())

        # O6 projection, sheet-scoped (v1.3 projects one denormalized
        # scan; v1.2 has one sheet per node).
        tables: NodeTables = {}
        for sheet, node in SHEET_NODES.items():
            if sheet in src:
                counts = mapped_non_null_counts(src[sheet], self.raw_dict, [node])
                tables[node] = extract_node(
                    src[sheet], self.model, node, self.raw_dict, counts
                ).frame()

        # file_id fallback (:66-73): GUID/guid column from the raw
        # sheet, else a synthetic id. The raw GUID rides the row id.
        file_df = tables.get("file")
        if file_df is not None and "File" in src and file_df.columns != ["type"]:
            if "file_id" not in file_df.columns:
                raw = src["File"]
                guid_col = next((c for c in ("GUID", "guid") if c in raw.columns), None)
                if guid_col is not None:
                    file_df = file_df.join(
                        raw.select(ROW_ID, F.col(guid_col).alias("_guid")), ROW_ID
                    )
                tables["file"] = synthetic_file_id(
                    file_df, id_col="file_id",
                    guid_col="_guid" if guid_col else None,
                ).drop("_guid")

        # diagnosis → participant by row (:158-160).
        diag = tables.get("diagnosis")
        if diag is not None and "Diagnosis (opt)" in src:
            raw = src["Diagnosis (opt)"]
            if "participant_id" in raw.columns and not _all_null(raw, "participant_id"):
                tables["diagnosis"] = diag.join(
                    raw.select(
                        ROW_ID, F.col("participant_id").alias("participant.participant_id")
                    ),
                    ROW_ID,
                    "left",
                )

        # participant → study: single-row Study replicated (:161-166).
        study, part = tables.get("study"), tables.get("participant")
        if (
            study is not None and part is not None
            and "phs_accession" in study.columns
        ):
            study_rows = study.select("phs_accession").collect()  # 1-row sheet
            if len(study_rows) == 1 and study_rows[0][0] is not None:
                tables["participant"] = part.withColumn(
                    "study.phs_accession", F.lit(study_rows[0][0])
                )

        # Mapping-sheet lookups (:168-194).
        mapping = src.get(MAPPING_SHEET)
        sample_gate_passed = False
        if mapping is not None and tables.get("sample") is not None:
            if not (_has_nulls(mapping, "sample_id") or _has_nulls(mapping, "participant_id")):
                looked = first_match_lookup(
                    tables["sample"],
                    mapping.select("sample_id", "participant_id", ROW_ID),
                    key="sample_id",
                    value="participant_id",
                    output_col="participant.participant_id",
                    order_col=ROW_ID,
                )
                # Attach only if every sample matched (:178-180).
                if not _has_nulls(looked, "participant.participant_id"):
                    tables["sample"] = looked
                    sample_gate_passed = True
        if mapping is not None and tables.get("file") is not None:
            if (
                not (_has_nulls(mapping, "file_id") or _has_nulls(mapping, "sample_id"))
                and sample_gate_passed  # the reference's :192 gate — see module docstring
            ):
                tables["file"] = first_match_lookup(
                    tables["file"],
                    mapping.select("file_id", "sample_id", ROW_ID),
                    key="file_id",
                    value="sample_id",
                    output_col="sample.sample_id",
                    order_col=ROW_ID,
                )

        tables = clean_data(tables, self.model, self.clean_dict)  # O19
        return {node: drop_internal(df) for node, df in tables.items()}

    def study_prefix(self, tables: NodeTables) -> str:
        """Output-file prefix: the study's phs_accession (:197)."""
        study = tables.get("study")
        if study is not None and "phs_accession" in study.columns:
            row = study.select("phs_accession").first()
            if row is not None and row[0] is not None:
                return str(row[0])
        return str(self.config.get("DATA_BATCH_NAME", "batch"))
