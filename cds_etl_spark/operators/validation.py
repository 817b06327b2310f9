"""Validation suite: duplicate/conflict IDs, orphans, cascade delete,
PII scan, UI completeness (O22-O27).

Reference: `id_validation` (cds_transformation_functions.py:209-281),
`delete_children` (:178-195), `ssn_validation` (:284-299),
`ui_validation` (:303-344). Everything here is formulated as LAZY
DataFrame algebra — bad-id sets are DataFrames flowing into filters
and broadcast joins, never collected lists, so the same code path
works when a node table is 10^9 rows and the bad set is 10^6.

ID validation makes one pinned pass per node: its id-non-null rows are
hash-partitioned by the id, so the full-row dedup and one id window run
without a further shuffle. The window gives every row its id's orphan
flag, conflict list and bad flag, and marks one representative row per
id; the emptiness guard is an observed metric of the same cut. The node
table, the bad ids and both reports are filters of that cut. The
orphan ids O and the non-exempt duplicate ids B are deleted together
behind the one guard. The reference cascades O and then B; one cascade
of O ∪ B removes the same rows, because FK nulling only adds nulls, the
all-null drop is idempotent, and B is judged per id, so deleting O
first cannot change it.

Deliberate deviations from reference *implementation* (same intended
semantics, documented for the parity check):
  * The reference's `mul` flag (:214) is initialized once OUTSIDE the
    node loop, so a many_to_many edge seen on an earlier node leaks
    the exemption to later nodes — a bug. Here the exemption applies
    iff one of THIS node's own parent edges is many_to_many (:226,
    :264 intent).
  * `delete_children` recurses once per grandchild edge with identical
    arguments (:185-191); the recursion is idempotent, so we recurse
    once per child.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F

from cds_etl_spark.model import Model
from cds_etl_spark.operators.frames import literal_frame
from cds_etl_spark.operators.pin import cut_lineage

NodeTables = dict[str, DataFrame]

ID_REPORT_COLS = ["node name", "ID", "conflict property"]
PARENT_REPORT_COLS = ["node name", "ID", "parent ID field"]
SSN_REPORT_COLS = ["Raw_Data_File", "File_Name", "Suspicious_SSN"]
UI_REPORT_COLS = ["Missing_Properties", "UI_Related", "Raw_Data_File"]

SSN_PATTERNS = (r"\d{3}-\d{2}-\d{4}", r"\d{3}_\d{2}_\d{4}", r"(?<=\D)\d{9}(?=\D)")
NOT_SPECIFIED = "Not specified in data"
UI_NO_FILL_PROPS = {"experimental_strategy_and_data_subtypes"}


def _bt(c: str) -> F.Column:
    return F.col(f"`{c}`")


def _fk_cols(node: str, parent_mapping: list[dict], columns: list[str]) -> list[str]:
    out = []
    for rule in parent_mapping:
        if rule["node"] == node:
            fk = f"{rule['parent_node']}.{rule['property']}"
            if fk in columns:
                out.append(fk)
    return out


def cascade_delete(
    tables: NodeTables,
    parent_mapping: list[dict],
    node_id_field: dict[str, str],
    bad_ids: DataFrame,
    parent_node: str,
) -> NodeTables:
    """Recursive referential cascade (reference `delete_children`,
    :178-195): null out child FKs referencing a deleted parent id,
    recursively delete children left with ALL parent-FKs null, then
    drop those children. The relationship DAG is statically ≤5 deep
    (program→study→participant→sample→file→genomic_info), so this is
    a bounded, lazy chain of broadcast existence joins — one
    shuffle-free pass per DAG level, not a row-at-a-time recursion.
    ``bad_ids`` may repeat an id: the ``IN`` test needs no dedup, so
    its build side has no aggregate."""
    tables = dict(tables)
    bad = F.broadcast(bad_ids.select(F.col(bad_ids.columns[0]).alias("_bad_id")))
    for rule in parent_mapping:
        if rule["parent_node"] != parent_node:
            continue
        child = rule["node"]
        if child not in tables:
            continue
        cdf = tables[child]
        fk = f"{rule['parent_node']}.{rule['property']}"
        if fk not in cdf.columns:
            continue
        # Null-out FK hits (:184) via a broadcast existence join.
        cdf = cdf.withColumn(fk, F.when(_bt(fk).isin(bad), None).otherwise(_bt(fk)))
        parent_list = _fk_cols(child, parent_mapping, cdf.columns)
        all_null = reduce(lambda a, b: a & b, [_bt(c).isNull() for c in parent_list])
        tables[child] = cdf
        # Grandchildren first (:185-191), from the nulled-out state.
        if any(r["parent_node"] == child for r in parent_mapping) and child in node_id_field:
            child_bad = cdf.filter(all_null).select(_bt(node_id_field[child]))
            tables = cascade_delete(tables, parent_mapping, node_id_field, child_bad, child)
            cdf = tables[child]
        # Drop children with every FK null (:193).
        tables[child] = cdf.filter(~all_null)
    return tables


def _report(spark, blocks: list[DataFrame], schema: str) -> DataFrame:
    """One report from per-node blocks tagged ``_node`` (node-loop
    position): a single partition, sorted by (``_node``, ``ID``) inside
    it, so the TSV bytes are the same on every run without the range
    sampling job of a global sort."""
    if not blocks:
        return literal_frame(spark, [], schema)
    return (
        reduce(DataFrame.unionByName, blocks)
        .coalesce(1)
        .sortWithinPartitions("_node", "ID")
        .drop("_node")
    )


def id_validation(
    tables: NodeTables,
    node_id_field: dict[str, str],
    parent_mapping: list[dict],
    model: Model,
    raw_data_name: str = "",
) -> tuple[NodeTables, DataFrame, DataFrame]:
    """Duplicate-ID/conflict detection + orphan detection + cascades
    (reference `id_validation`, :209-281), one pinned pass per node.

    The node's rows are deduped (:218-219) and annotated by one window
    over the id: the orphan flag (:222-246), the conflict list
    (:247-277), the bad flag and a one-row-per-id representative flag.
    That annotated frame is the node's only `cut_lineage`, and the job
    that pins it also delivers the emptiness guard as an observed
    `max` of the bad flag (a `max`, not a count, so a cut that runs its
    plan twice reports the same value). The cleaned node table is the
    cut's good rows; the bad ids and both reports are its bad
    representatives. The bad flag needs no row-count test: an id has
    more than one row exactly when its conflict list is non-empty,
    because two distinct rows with one id differ in some column. Returns (cleaned
    tables, id_report, parent_report); reports match the reference's
    TSV schemas (:210-211) with the conflict-column list rendered as
    its Python repr, each node's block sorted by ID."""
    tables = dict(tables)
    spark = next(iter(tables.values())).sparkSession if tables else None
    id_reports: list[DataFrame] = []
    parent_reports: list[DataFrame] = []

    for pos, node in enumerate(list(tables.keys())):
        if node not in node_id_field:
            continue
        id_col = node_id_field[node]
        df = tables[node]
        cols = df.columns
        if id_col not in cols:
            continue
        data_cols = [c for c in cols if c != id_col]
        fk_cols = _fk_cols(node, parent_mapping, cols)
        node_muls = {
            model.mul_of(rule.get("relationship", ""))
            for rule in parent_mapping
            if rule["node"] == node
        }
        has_m2m = "many_to_many" in node_muls

        # :218-219 — require an id, then the full-row dedup, which the
        # id partitioning already clusters.
        df = df.filter(_bt(id_col).isNotNull()).repartition(_bt(id_col)).dropDuplicates()
        # Ordering by every column makes the representative row and the
        # row order within a partition the same on every run.
        by_id = Window.partitionBy(_bt(id_col)).orderBy(*[_bt(c) for c in cols])
        per_id = by_id.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        # Orphan (:238): EVERY parent-FK column has a null occurrence.
        orphan = (
            reduce(lambda a, b: a & b, [F.max(_bt(fk).isNull()).over(per_id) for fk in fk_cols])
            if fk_cols
            else F.lit(False)
        )
        # A column conflicts when the id's rows hold more than one
        # value of it, null counting as a value (pandas `set(list(...))`
        # at :259). Wrapped in a struct, a null orders and compares like
        # any other value, so the id's least and greatest values differ.
        def conflicts(c: str) -> F.Column:
            value = F.struct(_bt(c))
            return F.min(value).over(per_id) != F.max(value).over(per_id)

        conf = F.filter(
            F.array(*[F.when(conflicts(c), F.lit(c)) for c in data_cols]).cast("array<string>"),
            lambda x: x.isNotNull(),
        )
        # many_to_many exemption (:264): sole conflict is a parent FK
        # column (not one of the node's own model properties).
        own_props = list(model.nodes.get(node, []))
        exempt = (
            (F.size(F.col("_conf")) == 1)
            & ~F.try_element_at(F.col("_conf"), F.lit(1)).isin(own_props)
            if has_m2m
            else F.lit(False)
        )
        annotated = df.select(
            "*",
            orphan.alias("_orphan"),
            conf.alias("_conf"),
            (F.row_number().over(by_id) == 1).alias("_rep"),
        ).withColumn("_bad", F.col("_orphan") | ((F.size(F.col("_conf")) > 0) & ~exempt))
        seen = Observation()
        # pin: iterative — the cleaned table, the failure ids, the
        # cascade and both reports all read this one cut.
        cut = cut_lineage(annotated.observe(seen, F.max("_bad").alias("any_bad")))
        tables[node] = cut.filter(~F.col("_bad")).select(*[_bt(c) for c in cols])
        bad = cut.filter(F.col("_rep") & F.col("_bad"))
        # The reference cascades only a NON-empty delete list (:244,
        # :271); an unconditional call would still drop all-null-FK
        # descendants (delete_children's dropna :193).
        if seen.get["any_bad"]:
            bad_ids = bad.select(_bt(id_col).alias("_vid"))
            tables = cascade_delete(tables, parent_mapping, node_id_field, bad_ids, node)
        if fk_cols:
            parent_reports.append(
                bad.filter(F.col("_orphan")).select(
                    F.lit(pos).alias("_node"),
                    F.lit(node).alias("node name"),
                    _bt(id_col).cast("string").alias("ID"),
                    F.lit(fk_cols[-1]).alias("parent ID field"),
                )
            )
        id_reports.append(
            bad.filter(~F.col("_orphan")).select(
                F.lit(pos).alias("_node"),
                F.lit(node).alias("node name"),
                _bt(id_col).cast("string").alias("ID"),
                F.concat(
                    F.lit("["),
                    F.array_join(
                        F.transform(F.col("_conf"), lambda x: F.concat(F.lit("'"), x, F.lit("'"))),
                        ", ",
                    ),
                    F.lit("]"),
                ).alias("conflict property"),
            )
        )

    id_report = _report(
        spark, id_reports, "`node name` string, ID string, `conflict property` string"
    )
    parent_report = _report(
        spark, parent_reports, "`node name` string, ID string, `parent ID field` string"
    )
    return tables, id_report, parent_report


def ssn_validation(
    tables: NodeTables,
    raw_data_name: str,
    node: str = "file",
    column: str = "file_name",
) -> DataFrame:
    """PII/SSN filename scan (reference `ssn_validation`, :284-299):
    one report row per (row, pattern) with matches, `Suspicious_SSN`
    rendered like Python's str(list)."""
    df = tables[node]
    reports = []
    for pattern in SSN_PATTERNS:
        matches = F.regexp_extract_all(_bt(column), F.lit(pattern), 0)
        reports.append(
            df.select(
                F.lit(raw_data_name).alias("Raw_Data_File"),
                _bt(column).alias("File_Name"),
                matches.alias("_m"),
            )
            .filter(F.size(F.col("_m")) > 0)
            .select(
                "Raw_Data_File",
                "File_Name",
                F.concat(
                    F.lit("['"),
                    F.array_join(F.col("_m"), "', '"),
                    F.lit("']"),
                ).alias("Suspicious_SSN"),
            )
        )
    return reduce(DataFrame.unionByName, reports)


def ui_validation(
    tables: NodeTables,
    ui_mapping: dict[str, list[str]],
    raw_data_name: str,
) -> tuple[NodeTables, DataFrame]:
    """UI-completeness check + default fill (reference `ui_validation`,
    :303-344): a UI-required property missing from a node grows a
    column of 'Not specified in data' (and is reported); partial nulls
    are filled the same. `ui_mapping` is {node: [property, ...]}
    (derived from the UI-mapping workbook's Mapping sheet, '-' and
    null entries already excluded)."""
    tables = dict(tables)
    spark = next(iter(tables.values())).sparkSession
    report_rows = []
    for node, df in tables.items():
        props = [p for p in ui_mapping.get(node, [])]
        if not props:
            continue
        for prop in props:
            if prop not in df.columns:
                if prop not in UI_NO_FILL_PROPS:
                    df = df.withColumn(prop, F.lit(NOT_SPECIFIED))
                report_rows.append((f"{node}.{prop}", True, raw_data_name))
            elif prop not in UI_NO_FILL_PROPS:
                df = df.withColumn(prop, F.coalesce(_bt(prop), F.lit(NOT_SPECIFIED)))
        tables[node] = df
    report = literal_frame(
        spark, report_rows, "Missing_Properties string, UI_Related boolean, Raw_Data_File string"
    )
    return tables, report


def schema_drift_report(
    expected: "StructType", observed: "StructType"
) -> "DataFrame | list[dict]":
    """Compare an arriving batch's schema against the registered
    contract — the ingest-governance gate that catches an upstream
    change BEFORE it corrupts a 100 TB table: silently-added columns
    (dropped by projection today, someone's data tomorrow), removed
    columns (NULL floods), type changes (parquet scan errors or
    lossy coercions), and nullability loosening (constraint
    violations downstream).

    Pure metadata — no Spark job, no data touched. Returns a list of
    finding dicts {column, kind, expected, observed, breaking}:
    ``removed``/``type_changed`` and nullable-tightening are
    BREAKING (readers malfunction), ``added`` and
    nullable-loosening are non-breaking (writers grew). Empty list =
    schemas agree. The generalization of the reference's fixed-sheet
    column validation (cds-transformation_v1.3.py's
    missing-property reporting) to arbitrary schema pairs."""
    exp = {f.name: f for f in expected.fields}
    obs = {f.name: f for f in observed.fields}
    findings: list[dict] = []
    for name, f in exp.items():
        if name not in obs:
            findings.append(
                {
                    "column": name,
                    "kind": "removed",
                    "expected": f.dataType.simpleString(),
                    "observed": None,
                    "breaking": True,
                }
            )
            continue
        o = obs[name]
        if f.dataType != o.dataType:
            findings.append(
                {
                    "column": name,
                    "kind": "type_changed",
                    "expected": f.dataType.simpleString(),
                    "observed": o.dataType.simpleString(),
                    "breaking": True,
                }
            )
        if f.nullable != o.nullable:
            findings.append(
                {
                    "column": name,
                    "kind": "nullability_changed",
                    "expected": f"nullable={f.nullable}",
                    "observed": f"nullable={o.nullable}",
                    # Loosening (required -> nullable) breaks readers
                    # that rely on the constraint; tightening is safe.
                    "breaking": (not f.nullable) and o.nullable,
                }
            )
    for name, o in obs.items():
        if name not in exp:
            findings.append(
                {
                    "column": name,
                    "kind": "added",
                    "expected": None,
                    "observed": o.dataType.simpleString(),
                    "breaking": False,
                }
            )
    return findings
