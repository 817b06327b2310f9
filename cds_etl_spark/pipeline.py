"""The composed CDS transformation pipeline (EP1 of the reference,
cds-transformation_v1.3.py:119-167), as one lazy DataFrame program.

Stage order matches the reference exactly:
    scan → normalize → per-node schema projection → secondary ids →
    combined keys → parent-FK attach → node drops → string-canonical
    dedup → all-null-prop row drop → grouped row merge → enum clean →
    UI validation → SSN scan → ID validation (incl. cascade delete) →
    historical state → TSV sinks.

The projection stage (`CdsPipeline.project`: schema projection,
secondary ids, combined keys, parent FKs, node drops) works on
`NodeProjection`s over the ingest scan and hands NodeTables to the
later stages; how it replaces the reference's row-position copies is
in operators/projection.py. Every later stage is a pure NodeTables →
NodeTables transform from `operators/`. Nothing materializes until the
sinks (or a validation report) run, so Catalyst sees the whole per-node
program and prunes columns all the way back to the ingest scan.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame

from cds_etl_spark.model import Model
from cds_etl_spark.operators import (
    add_secondary_id,
    clean_data,
    combine_columns,
    combine_rows,
    drop_all_null_prop_rows,
    drop_internal,  # noqa: F401 (see below)
    extract_node,
    extract_parent_property,
    id_validation,
    normalize_strings,
    remove_nodes,
    ssn_validation,
    string_canonical_dedup,
    ui_validation,
    with_row_id,  # noqa: F401 (see below)
)
from cds_etl_spark.operators.projection import mapped_non_null_counts

# The v1.3 path stamps no row id, so it neither adds nor strips one;
# `with_row_id` and `drop_internal` stay bound here because
# perfbench/spans.py traces every v1.3 operator by its name on this
# module (an uncalled one reports 0).

NodeTables = dict[str, DataFrame]


@dataclass
class PipelineResult:
    tables: NodeTables
    id_report: DataFrame | None = None
    parent_report: DataFrame | None = None
    ssn_report: DataFrame | None = None
    ui_report: DataFrame | None = None


@dataclass
class CdsPipeline:
    """Config keys mirror the reference's YAML contract
    (cds_config_example_v1.3.yaml): NODE_ID_FIELD,
    PARENT_MAPPING_COLUMNS, COMBINE_NODE, COMBINE_COLUMN,
    SECONDARY_ID_COLUMN, REMOVE_NODES; plus the raw dictionary,
    clean dictionary and UI mapping as parsed dicts."""

    model: Model
    raw_dict: dict[str, dict[str, str]]
    config: dict[str, Any]
    clean_dict: dict = field(default_factory=dict)
    ui_mapping: dict[str, list[str]] = field(default_factory=dict)

    _cached: list[DataFrame] = field(default_factory=list, init=False, repr=False)

    def unpersist(self) -> None:
        """Release the ingest caches of every ``run`` so far. The CLI
        calls this once a batch's tables and reports are written."""
        for df in self._cached:
            df.unpersist()
        self._cached = []

    def project(self, src: DataFrame) -> NodeTables:
        """O6 schema projection, O11 secondary ids, O10 combined keys,
        O12 parent FKs and O20 node drops: one ``select`` per node over
        ``src``, after one aggregate pass for the null guards."""
        cfg = self.config
        counts = mapped_non_null_counts(src, self.raw_dict, self.model.nodes)
        nodes = {
            node: extract_node(src, self.model, node, self.raw_dict, counts)
            for node in self.model.nodes
        }
        nodes = add_secondary_id(nodes, cfg.get("SECONDARY_ID_COLUMN", []))  # O11
        nodes = combine_columns(nodes, cfg.get("COMBINE_COLUMN", []))  # O10
        nodes = extract_parent_property(nodes, cfg.get("PARENT_MAPPING_COLUMNS", []))  # O12
        nodes = remove_nodes(nodes, cfg.get("REMOVE_NODES", []))  # O20
        return {node: proj.frame() for node, proj in nodes.items()}

    def run(self, metadata: DataFrame, raw_data_name: str = "batch") -> PipelineResult:
        cfg = self.config
        # O3/O4. Cached: every node table and validation stage reads it.
        src = normalize_strings(metadata).cache()
        self._cached.append(src)
        tables = self.project(src)

        # O17 + O8.
        id_fields = cfg.get("NODE_ID_FIELD", {})
        for node in list(tables):
            tables[node] = drop_all_null_prop_rows(
                string_canonical_dedup(tables[node]),
                self.model,
                node,
                id_fields.get(node, ""),
            )

        tables = combine_rows(tables, cfg.get("COMBINE_NODE", []))  # O18
        tables = clean_data(tables, self.model, self.clean_dict)  # O19

        tables, ui_report = ui_validation(tables, self.ui_mapping, raw_data_name)  # O27
        ssn_report = (
            ssn_validation(tables, raw_data_name) if "file" in tables else None
        )  # O26
        tables, id_report, parent_report = id_validation(  # O22-O25
            tables,
            id_fields,
            cfg.get("PARENT_MAPPING_COLUMNS", []),
            self.model,
            raw_data_name,
        )
        return PipelineResult(tables, id_report, parent_report, ssn_report, ui_report)
