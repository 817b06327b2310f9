"""Relationship/edge operators (O12/O13/O14).

* `extract_parent_property` — attach the `parent.prop` FK column to a
  child node. The v1.3 reference copies the parent frame's column by
  row position (cds-transformation_v1.3.py:83-95), valid only because
  both frames project the same metadata rows → here the parent's
  expression for the column joins the child's projection of that scan
  (see projection.NodeProjection). When frames don't share provenance,
  the keyed variants below apply.

* `first_match_lookup` — the v1.2 mapping-sheet lookup
  (cds-transformation_v1.2.py:168-194): for each key take the FIRST
  matching value from a mapping table. Reference is an O(keys×rows)
  `.loc[...].iloc[0]` scan per key; here a broadcast join + row_number
  window keeping the first mapping row per key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from cds_etl_spark.operators.projection import ROW_ID, NodeProjection

NodeProjections = dict[str, NodeProjection]


def extract_parent_property(
    tables: NodeProjections, parent_mapping: list[dict]
) -> NodeProjections:
    """Attach `parent_node.property` FK columns per PARENT_MAPPING_COLUMNS
    (cds_config_example_v1.3.yaml:22-62), taken from the same ingest row."""
    out = dict(tables)
    for rule in parent_mapping:
        node, parent_node, prop = rule["node"], rule["parent_node"], rule["property"]
        if node not in out or parent_node not in out:
            continue
        parent = out[parent_node]
        if prop in parent.columns:
            out[node] = out[node].with_column(f"{parent_node}.{prop}", parent.columns[prop])
    return out


def first_match_lookup(
    df: DataFrame,
    mapping: DataFrame,
    key: str,
    value: str,
    output_col: str | None = None,
    order_col: str | None = None,
) -> DataFrame:
    """Left-join `df` to the first matching `value` per `key` in
    `mapping` (first by `order_col`, or by mapping `_row_id`/arbitrary
    stable order). Mapping tables are dimension-sized → broadcast."""
    output_col = output_col or value
    order = order_col or (ROW_ID if ROW_ID in mapping.columns else F.lit(1))
    w = Window.partitionBy(key).orderBy(order)
    first = (
        mapping.select(key, F.col(value).alias(output_col), F.row_number().over(w).alias("_rn"))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    return df.join(F.broadcast(first), key, "left")
