"""Schema-mapping projection and raw-dictionary inference (O5/O6/O7/O8).

The reference maps messy submitter columns onto model properties in two
phases (cds-transformation_v1.3.py):
  * inference (`extract_raw_data_dict` :35-51 + `match_col` :16-33):
    fuzzy-match headers to properties with difflib SequenceMatcher at a
    ratio threshold, skipping all-null columns — a driver-side metadata
    operation (no data movement beyond one per-column null-count pass);
  * transformation (`extract_data` :69-81 + `match_col_from_raw_dict`
    :53-66): project raw columns to property names via the reviewed
    dictionary, skipping all-null sources, and stamp a `type` column.

Spark re-expression: the projection is a single `select` of aliased
columns (column pruning reaches the scan); the all-null guards are one
aggregate pass computing every candidate column's non-null count at
once (the reference scans per column), shared by every node of a scan.

Alignment. Several ops (O10 external_node, O11, O12-v1.3) copy columns
*by row position* between node frames. In v1.3 every node frame is a
projection of one denormalized metadata scan, so position-alignment is
really same-source-row alignment. `extract_node` therefore returns a
`NodeProjection` — the node's columns as named expressions over that
scan — and the positional ops add the parent's expression for a column
to the child's projection: one `select` per node, correct under any
partitioning, with no join and no row identity to keep stable.

`with_row_id` remains for the flows whose frames come from DIFFERENT
scans: the v1.2 sheets, the v1.0 workbooks and `reshape.zip_frames`
carry an explicit `_row_id` and align by equi-join on it.
"""

from __future__ import annotations

from collections.abc import Iterable
from dataclasses import dataclass
from difflib import SequenceMatcher

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cds_etl_spark.model import Model

ROW_ID = "_row_id"


def with_row_id(df: DataFrame) -> DataFrame:
    """Attach a stable unique row id to the ingest scan.

    `monotonically_increasing_id` is partition-local-contiguous and
    globally unique — sufficient for alignment joins (all consumers
    project from the same scan, so the same physical row gets the same
    id in every projection of this DataFrame object's lineage is NOT
    guaranteed across recomputations; the ingest layer therefore
    materializes (caches) the id-stamped frame once).
    """
    return df.withColumn(ROW_ID, F.monotonically_increasing_id())


def match_col(columns: list[str], prop: str, limit: float) -> str | None:
    """Best fuzzy match of a model property against raw headers.

    Same normalization and scoring as the reference (spaces→underscore,
    lowercase, SequenceMatcher ratio ≥ limit, argmax ratio;
    cds-transformation_v1.3.py:16-33). Driver-side metadata op.
    """
    best, best_ratio = None, -1.0
    for col in columns:
        name = col.replace(" ", "_").lower()
        ratio = SequenceMatcher(None, name, prop).ratio()
        if ratio >= limit and ratio > best_ratio:
            best, best_ratio = col, ratio
    return best


def _non_null_counts(df: DataFrame, columns: list[str]) -> dict[str, int]:
    """One aggregate pass → non-null count per column."""
    if not columns:
        return {}
    row = df.agg(
        *[F.count(F.col(f"`{c}`")).alias(f"c{i}") for i, c in enumerate(columns)]
    ).collect()[0]
    return {c: row[f"c{i}"] for i, c in enumerate(columns)}


def mapped_non_null_counts(
    df: DataFrame, raw_dict: dict[str, dict[str, str]], nodes: Iterable[str]
) -> dict[str, int]:
    """One aggregate pass → non-null count of every column of ``df``
    that ``raw_dict`` maps to a property of one of ``nodes``."""
    return _non_null_counts(
        df, sorted({c for node in nodes for c in raw_dict.get(node, {}) if c in df.columns})
    )


def extract_raw_data_dict(
    df: DataFrame,
    model: Model,
    node: str,
    limit: float,
    raw_dict: dict[str, dict[str, str]] | None = None,
) -> dict[str, dict[str, str]]:
    """Schema-inference pass: build {node: {raw_column: property}}.

    Reference `extract_raw_data_dict` (cds-transformation_v1.3.py:35-51):
    fuzzy-match each property, keep the column only if it has any
    non-null value. The result is meant to be human-reviewed and
    versioned, then drives `extract_node`.
    """
    raw_dict = raw_dict if raw_dict is not None else {}
    candidates: dict[str, str] = {}
    for prop in model.nodes[node]:
        col = match_col([c for c in df.columns if c != ROW_ID], prop, limit)
        if col is not None:
            candidates[col] = prop
    counts = _non_null_counts(df, list(candidates))
    for col, prop in candidates.items():
        if counts.get(col, 0) > 0:
            raw_dict.setdefault(node, {})[col] = prop
    return raw_dict


@dataclass(frozen=True)
class NodeProjection:
    """One node table as ordered, named column expressions over the
    scan ``src``; `frame` is the single ``select`` that builds it."""

    src: DataFrame
    columns: dict[str, Column]

    def with_column(self, name: str, expr: Column) -> NodeProjection:
        """``withColumn`` ordering: replace in place, else append."""
        return NodeProjection(self.src, {**self.columns, name: expr})

    def dtype(self, name: str) -> str:
        return self.src.select(self.columns[name]).dtypes[0][1]

    def frame(self) -> DataFrame:
        return self.src.select(*[e.alias(n) for n, e in self.columns.items()])


def extract_node(
    df: DataFrame,
    model: Model,
    node: str,
    raw_dict: dict[str, dict[str, str]],
    counts: dict[str, int],
) -> NodeProjection:
    """Project raw columns into model property names for one node and
    stamp `type` (reference `extract_data`,
    cds-transformation_v1.3.py:69-81).

    For each property, candidate raw columns come from the dictionary;
    the first candidate with any non-null data wins (reference
    `match_col_from_raw_dict` :53-66 iterates candidates in dict order
    with an all-null guard). ``counts`` holds the candidates' non-null
    counts (`mapped_non_null_counts`: one pass serves every node of a
    scan). A ``_row_id`` on ``df`` is carried through.
    """
    mapping = raw_dict.get(node, {})
    by_prop: dict[str, list[str]] = {}
    for col, prop in mapping.items():
        if col in df.columns:
            by_prop.setdefault(prop, []).append(col)

    columns: dict[str, Column] = {}
    for prop in model.nodes[node]:
        for col in by_prop.get(prop, []):
            if counts.get(col, 0) > 0:
                columns[prop] = F.col(f"`{col}`")
                break
    if not columns:
        # No mappable data for this node → empty frame with just `type`
        # (reference returns an empty DataFrame and sinks skip it).
        return NodeProjection(df.limit(0), {"type": F.lit(node)})
    if ROW_ID in df.columns:
        columns[ROW_ID] = F.col(ROW_ID)
    columns["type"] = F.lit(node)
    return NodeProjection(df, columns)
