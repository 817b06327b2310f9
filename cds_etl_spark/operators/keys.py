"""Derived-key operators (O9/O10/O11).

Reference semantics re-expressed as vectorized expressions:

* `combine_columns` (cds_transformation_functions.py:362-393): build
  `new = canon(col1) || '_' || canon(col2)` rowwise, only when both are
  non-null; floats that are integral render without the trailing `.0`
  (`convert_to_string` :395-400). The reference does this with a Python
  loop of `.loc[i, c]` scalar reads/writes — O(rows) interpreter-bound;
  here it is one `concat_ws` expression inside codegen. The
  `external_node` variant aligns the other table's column BY ROW
  POSITION (:384-388) → that table's expression for the column, taken
  over the same ingest row (see projection.NodeProjection).

* `add_secondary_id` (:402-418): if a node's id column is missing,
  copy the parent's id column row-by-row (positional) → the parent's
  expression for it, added to the node's projection.

* `synthetic_file_id` (v1.2 `extract_data`,
  cds-transformation_v1.2.py:66-73): missing file_id filled from a GUID
  column when present, else generated. The reference draws *random*
  10-digit ints; at scale a deterministic content hash is strictly
  better (idempotent re-runs, no collisions across batches), so the
  default derives xxhash64 of the natural-key columns; a
  monotonically-increasing variant is kept for parity.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cds_etl_spark.operators.projection import ROW_ID, NodeProjection

NodeProjections = dict[str, NodeProjection]


def canonical_string(c: Column, dtype: str) -> Column:
    """Reference `convert_to_string`: integral floats lose the '.0'."""
    if dtype in ("double", "float"):
        return F.when(c == F.floor(c), c.cast("long").cast("string")).otherwise(
            c.cast("string")
        )
    return c.cast("string")


def combine_columns(tables: NodeProjections, combine_config: list[dict]) -> NodeProjections:
    """Apply every COMBINE_COLUMN rule (config shape mirrors
    cds_config_example_v1.3.yaml:75-99: node, column1, column2,
    new_column, external_node). ``column1`` comes from
    ``external_node`` when one is named, else from ``node`` itself."""
    out = dict(tables)
    for rule in combine_config:
        node = rule["node"]
        if node not in out:
            continue
        proj = out[node]
        c1, c2, new = rule["column1"], rule["column2"], rule["new_column"]
        first = out.get(rule.get("external_node") or node)
        if first is None or c1 not in first.columns or c2 not in proj.columns:
            continue
        e1, e2 = first.columns[c1], proj.columns[c2]
        value = F.when(
            e1.isNotNull() & e2.isNotNull(),
            F.concat_ws(
                "_",
                canonical_string(e1, first.dtype(c1)),
                canonical_string(e2, proj.dtype(c2)),
            ),
        )
        out[node] = proj.with_column(new, value)
    return out


def add_secondary_id(tables: NodeProjections, secondary_config: list[dict]) -> NodeProjections:
    """SECONDARY_ID_COLUMN rules (cds_config_example_v1.3.yaml:101-113):
    when `node_id` is absent from the node, fill it from
    `secondary_id` = "parent_node.parent_prop" of the same ingest row."""
    out = dict(tables)
    for rule in secondary_config:
        node = rule["node"]
        if node not in out or rule["node_id"] in out[node].columns:
            continue
        parent_node, parent_prop = rule["secondary_id"].split(".", 1)
        parent = out.get(parent_node)
        if parent is None or parent_prop not in parent.columns:
            continue
        out[node] = out[node].with_column(rule["node_id"], parent.columns[parent_prop])
    return out


def synthetic_file_id(
    df: DataFrame,
    id_col: str = "file_id",
    guid_col: str | None = "GUID",
    natural_key_cols: list[str] | None = None,
) -> DataFrame:
    """Fill a missing/null id column: prefer the GUID column, else a
    deterministic 10-digit id from xxhash64 over the natural key (all
    columns if unspecified). Deterministic beats the reference's
    `random.sample` at scale: idempotent and executor-parallel."""
    cols = natural_key_cols or [c for c in df.columns if c not in (id_col, ROW_ID)]
    hashed = (F.pmod(F.xxhash64(*[F.col(f"`{c}`") for c in cols]), F.lit(9 * 10**9)) + 10**9).cast(
        "string"
    )
    source = F.col(f"`{guid_col}`") if guid_col and guid_col in df.columns else F.lit(None)
    existing = F.col(f"`{id_col}`") if id_col in df.columns else F.lit(None)
    return df.withColumn(id_col, F.coalesce(existing, source, hashed))
