"""Batch CLI driver — EP1 of the reference as a Spark program.

``python -m cds_etl_spark --config_file cfg.yaml [--upload_s3]
[--download_s3] [--extract_raw_data_dictionary]`` mirrors the
reference entry point (`cds-transformation_v1.3.py:98-117`) flag for
flag, config key for config key:

* default mode: every data file in ``DATA_FOLDER/DATA_BATCH_NAME``
  runs the composed pipeline (pipeline.CdsPipeline — scan → normalize
  → project → keys → FKs → dedup → merge → clean → validations) and
  lands per-node TSVs in ``OUTPUT_FOLDER/DATA_BATCH_NAME``, with the
  three validation reports in ``ID_VALIDATION_RESULT_FOLDER`` and
  historical values accumulated + re-stamped
  (`cds-transformation_v1.3.py:119-185`);
* ``--extract_raw_data_dictionary``: schema-inference mode — fuzzy
  column→property matching dumped to ``RAW_DATA_DICTIONARY`` YAML
  (:188-212);
* ``--download_s3`` / ``--upload_s3``: raw-file transfer
  (sources/transfer.py), subfoldered by the O33 batch timestamp
  (:114-115, upload_files :82-104);
* ``--pipeline_version 1.2``: EP3 — the v1.2 seven-sheet workbook
  flow (`cds-transformation_v1.2.py:92-200`, pipeline_v12.py), where
  each batch file is a workbook (xlsx, or a ``*.book/`` directory of
  per-sheet tsv/csv/parquet files for the no-openpyxl path) and
  outputs are prefixed with the study's phs_accession instead of the
  raw file name;
* ``--pipeline_version 1.0``: the original two-workbook flow
  (`cds-transformation.py:80-146`, pipeline_v10.py) — DATA_FILE1/
  DATA_FILE2 name the workbooks directly, the headerless Study sheet
  transposes + replicates, and the hard-coded add_properties table
  wires the FKs; outputs are unprefixed ``<node>.tsv``.

Beyond the reference: data files may be ``.tsv``/``.csv``/``.parquet``
as well as ``.xlsx`` (the xlsx edge adapter needs openpyxl), and
``REMOTE_ROOT`` may be any Hadoop-FS URI where the reference hardcodes
an S3 bucket.
"""

from __future__ import annotations

import argparse
import glob
import logging
import os
from typing import Any

import yaml
from pyspark.sql import DataFrame, SparkSession

from cds_etl_spark.batch import batch_timestamp
from cds_etl_spark.model import Model, load_model
from cds_etl_spark.operators.history import add_historical_value, stamp_historical_value
from cds_etl_spark.operators.projection import extract_raw_data_dict
from cds_etl_spark.pipeline import CdsPipeline, PipelineResult
from cds_etl_spark.sources.files import read_tsv, write_tsv_file
from cds_etl_spark.sources.transfer import download_batch, upload_batch

log = logging.getLogger("cds_etl_spark.cli")

DATA_SUFFIXES = (".xlsx", ".tsv", ".csv", ".parquet")


def load_yaml(path: str) -> Any:
    with open(path) as f:
        return yaml.safe_load(f)


def read_metadata(spark: SparkSession, path: str) -> DataFrame:
    """Suffix-dispatched metadata reader. xlsx matches the reference's
    `pd.read_excel(sheet_name="Metadata")`; the text/columnar formats
    are the engine's scale-path extension."""
    if path.endswith(".xlsx"):
        from cds_etl_spark.sources.excel import read_excel_sheet

        return read_excel_sheet(spark, path, "Metadata")
    # The pipeline caches its source scan; Spark's cache matches by
    # logical plan, so a re-run over a path whose FILE changed would
    # silently reuse stale cached data. Drop any cache entries for the
    # path before re-reading (metadata-only when nothing is cached).
    spark.catalog.refreshByPath(path)
    if path.endswith(".tsv"):
        return read_tsv(spark, path)
    if path.endswith(".csv"):
        return spark.read.option("header", True).csv(path)
    if path.endswith(".parquet"):
        return spark.read.parquet(path)
    raise ValueError(f"unsupported data file: {path}")


def load_ui_mapping(path: str | None) -> dict[str, list[str]]:
    """UI-required properties per node. YAML form is ``{node: [prop]}``;
    xlsx form is the reference's workbook — sheet ``Mapping``, columns
    ``Node Name`` / ``Property Name``, '-' and empty entries dropped
    (`cds_transformation_functions.py:309-318`)."""
    if not path:
        return {}
    if path.endswith((".yaml", ".yml")):
        return {n: list(props or []) for n, props in (load_yaml(path) or {}).items()}
    try:
        import openpyxl
    except ImportError:
        log.warning(
            "VALIDATION_FILE %s needs openpyxl (not installed); "
            "UI validation runs with an empty mapping", path,
        )
        return {}
    wb = openpyxl.load_workbook(path, read_only=True, data_only=True)
    ws = wb["Mapping"]
    rows = ws.iter_rows(values_only=True)
    header = [str(h) if h is not None else "" for h in next(rows)]
    node_i = header.index("Node Name")
    prop_i = header.index("Property Name")
    mapping: dict[str, list[str]] = {}
    for row in rows:
        node, prop = row[node_i], row[prop_i]
        if node and prop and prop != "-":
            if str(prop) not in mapping.setdefault(str(node), []):
                mapping[str(node)].append(str(prop))
    wb.close()
    return mapping


def data_files(config: dict) -> list[str]:
    base = os.path.join(config["DATA_FOLDER"], config["DATA_BATCH_NAME"])
    files: list[str] = []
    for sfx in DATA_SUFFIXES:
        files += glob.glob(os.path.join(base, f"*{sfx}"))
    return sorted(files)


def workbooks(config: dict) -> list[str]:
    """v1.2 batch inputs: xlsx workbooks, or ``*.book`` directories of
    per-sheet files (the engine's openpyxl-free workbook form)."""
    base = os.path.join(config["DATA_FOLDER"], config["DATA_BATCH_NAME"])
    return sorted(
        glob.glob(os.path.join(base, "*.xlsx"))
        + [p for p in glob.glob(os.path.join(base, "*.book")) if os.path.isdir(p)]
    )


def read_sheet(spark: SparkSession, workbook: str, sheet: str) -> DataFrame | None:
    """One named sheet from a workbook; None when the sheet is absent
    (the reference hard-fails on missing sheets — absence-tolerance is
    an engine extension so partial workbooks still transform)."""
    if workbook.endswith(".xlsx"):
        from cds_etl_spark.sources.excel import read_excel_sheet

        return read_excel_sheet(spark, workbook, sheet)
    for sfx in (".tsv", ".csv", ".parquet"):
        p = os.path.join(workbook, f"{sheet}{sfx}")
        if os.path.exists(p):
            return read_metadata(spark, p)
    return None


def _build_pipeline(config: dict, model: Model) -> CdsPipeline:
    raw_dict = load_yaml(config["RAW_DATA_DICTIONARY"]) or {}
    clean_dict = (
        load_yaml(config["CLEAN_DICT"]) or {} if config.get("CLEAN_DICT") else {}
    )
    ui_mapping = load_ui_mapping(config.get("VALIDATION_FILE"))
    return CdsPipeline(model, raw_dict, config, clean_dict, ui_mapping)


def run_extract_dictionary(spark: SparkSession, config: dict, model: Model) -> str:
    """--extract_raw_data_dictionary mode (:188-212)."""
    raw_dict: dict[str, dict[str, str]] = {}
    limit = float(config.get("RATIO_LIMIT", 0.75))
    for path in data_files(config):
        log.info("extracting raw data dictionary from %s", os.path.basename(path))
        df = read_metadata(spark, path)
        for node in model.nodes:
            raw_dict = extract_raw_data_dict(df, model, node, limit, raw_dict)
    out = config["RAW_DATA_DICTIONARY"]
    os.makedirs(os.path.dirname(out) or ".", exist_ok=True)
    with open(out, "w") as f:
        yaml.dump(raw_dict, f, default_flow_style=False)
    log.info("raw data dictionary stored in %s", out)
    return out


def _apply_history(config: dict, tables: dict[str, DataFrame]) -> dict[str, DataFrame]:
    """O28 accumulate + O29 re-stamp, per configured (node, property).
    The reference accumulates during the file loop and re-stamps the
    emitted TSVs at the end (`print_historical_value` :448-466); with
    lazy frames we accumulate then stamp the frame before it is ever
    written — same end state, no read-back of outputs."""
    id_fields = config.get("NODE_ID_FIELD", {})
    for spec in config.get("HISTORICAL_PROPERTIES", []) or []:
        node, prop = spec["node"], spec["property"]
        state = spec["historical_property_file"]
        if node not in tables or prop not in tables[node].columns:
            continue
        key = id_fields.get(node)
        if not key or key not in tables[node].columns:
            continue
        add_historical_value(tables[node], key, prop, state)
        tables[node] = stamp_historical_value(tables[node], key, prop, state)
    return tables


def run_transform(spark: SparkSession, config: dict, model: Model) -> dict[str, list[str]]:
    """Default mode: the full EP1 trace per data file."""
    pipe = _build_pipeline(config, model)
    batch = config["DATA_BATCH_NAME"]
    out_dir = os.path.join(config["OUTPUT_FOLDER"], batch)
    report_dir = os.path.join(config["ID_VALIDATION_RESULT_FOLDER"], batch)
    os.makedirs(out_dir, exist_ok=True)
    os.makedirs(report_dir, exist_ok=True)

    written: dict[str, list[str]] = {"nodes": [], "reports": []}
    try:
        ui_reports: list[DataFrame] = []
        ssn_reports: list[DataFrame] = []
        results: list[tuple[str, PipelineResult]] = []

        for path in data_files(config):
            base = os.path.basename(path)
            prefix = os.path.splitext(base)[0]
            log.info("start transforming %s", base)
            result = pipe.run(read_metadata(spark, path), raw_data_name=base)
            result.tables = _apply_history(config, result.tables)
            results.append((prefix, result))
            if result.ui_report is not None:
                ui_reports.append(result.ui_report)
            if result.ssn_report is not None:
                ssn_reports.append(result.ssn_report)

        # write_tsv_file skips frames without data (empty reports included).
        for prefix, result in results:
            for node, df in result.tables.items():
                p = write_tsv_file(df, out_dir, node, prefix=prefix)
                if p:
                    written["nodes"].append(p)
                    log.info("wrote %s", p)
            for rep, name in (
                (result.id_report, "ID_validation_result"),
                (result.parent_report, "Parent_validation_result"),
            ):
                if rep is not None:
                    p = write_tsv_file(rep, report_dir, name, prefix=prefix)
                    if p:
                        written["reports"].append(p)

        def _union_all(frames: list[DataFrame]) -> DataFrame | None:
            frames = [f for f in frames if f is not None]
            if not frames:
                return None
            out = frames[0]
            for f in frames[1:]:
                out = out.unionByName(f)
            return out

        for frames, name in (
            (ui_reports, "Properties_validation_result"),
            (ssn_reports, "Filename_validation_result"),
        ):
            merged = _union_all(frames)
            if merged is not None:
                p = write_tsv_file(merged, report_dir, name, prefix=batch)
                if p:
                    written["reports"].append(p)
                    log.info("wrote %s", p)
    finally:
        # Every sink has run (or the batch failed): release each data
        # file's ingest cache, so a long-lived session does not pin the
        # scans of every batch it has seen.
        pipe.unpersist()
    return written


def run_transform_v12(
    spark: SparkSession, config: dict, model: Model
) -> dict[str, list[str]]:
    """--pipeline_version 1.2: the EP3 seven-sheet flow per workbook
    (`cds-transformation_v1.2.py:92-200`)."""
    from cds_etl_spark.pipeline_v12 import MAPPING_SHEET, SHEET_NODES, CdsPipelineV12

    raw_dict = load_yaml(config["RAW_DATA_DICTIONARY"]) or {}
    clean_dict = (
        load_yaml(config["CLEAN_DICT"]) or {} if config.get("CLEAN_DICT") else {}
    )
    pipe = CdsPipelineV12(model, raw_dict, config, clean_dict)
    out_dir = os.path.join(config["OUTPUT_FOLDER"], config["DATA_BATCH_NAME"])
    os.makedirs(out_dir, exist_ok=True)

    written: dict[str, list[str]] = {"nodes": []}
    for book in workbooks(config):
        log.info("start transforming %s", os.path.basename(book))
        sheets = {}
        for sheet in list(SHEET_NODES) + [MAPPING_SHEET]:
            df = read_sheet(spark, book, sheet)
            if df is not None:
                sheets[sheet] = df
        try:
            tables = pipe.run(sheets)
            prefix = pipe.study_prefix(tables)
            for node, df in tables.items():
                p = write_tsv_file(df, out_dir, node, prefix=prefix)
                if p:
                    written["nodes"].append(p)
                    log.info("wrote %s", p)
        finally:
            # This book's tables are on disk (or the book failed);
            # release its 7 sheet caches either way so a long batch
            # never accumulates pinned storage across workbooks.
            pipe.unpersist()
    return written


def run_transform_v10(
    spark: SparkSession, config: dict, model: Model
) -> dict[str, list[str]]:
    """--pipeline_version 1.0: the original two-workbook flow
    (`cds-transformation.py:80-146`). DATA_FILE1/DATA_FILE2 name the
    workbooks directly (xlsx, or ``*.book`` directories of per-sheet
    files); outputs are unprefixed ``<node>.tsv`` in OUTPUT_FOLDER."""
    from cds_etl_spark.pipeline_v10 import (
        FILE1_SHEETS,
        FILE2_SHEETS,
        CdsPipelineV10,
        read_study_kv,
    )

    sheets: dict[str, DataFrame] = {}
    for book_key, names in (("DATA_FILE1", FILE1_SHEETS), ("DATA_FILE2", FILE2_SHEETS)):
        book = config[book_key]
        for sheet in names:
            df = read_sheet(spark, book, sheet)
            if df is not None:
                sheets[sheet] = df
    study_kv = read_study_kv(spark, config["DATA_FILE2"])

    pipe = CdsPipelineV10(model, config)
    out_dir = config["OUTPUT_FOLDER"]
    os.makedirs(out_dir, exist_ok=True)
    written: dict[str, list[str]] = {"nodes": []}
    try:
        tables = pipe.run(sheets, study_kv)
        for node, df in tables.items():
            p = write_tsv_file(df, out_dir, node)
            if p:
                written["nodes"].append(p)
                log.info("wrote %s (data node %s is created)", p, node)
    finally:
        pipe.unpersist()
    return written


def run_extract_dictionary_v12(
    spark: SparkSession, config: dict, model: Model
) -> str:
    """--pipeline_version 1.2 --extract_raw_data_dictionary: infer the
    dictionary per (sheet, node) pair instead of v1.3's
    every-node-per-file sweep (`cds-transformation_v1.2.py:201-255`)."""
    from cds_etl_spark.pipeline_v12 import SHEET_NODES

    raw_dict: dict[str, dict[str, str]] = {}
    limit = float(config.get("RATIO_LIMIT", 0.75))
    for book in workbooks(config):
        log.info("extracting raw data dictionary from %s", os.path.basename(book))
        for sheet, node in SHEET_NODES.items():
            df = read_sheet(spark, book, sheet)
            if df is not None and node in model.nodes:
                raw_dict = extract_raw_data_dict(df, model, node, limit, raw_dict)
    out = config["RAW_DATA_DICTIONARY"]
    os.makedirs(os.path.dirname(out) or ".", exist_ok=True)
    with open(out, "w") as f:
        yaml.dump(raw_dict, f, default_flow_style=False)
    log.info("raw data dictionary stored in %s", out)
    return out


def build_parser() -> argparse.ArgumentParser:
    parser = argparse.ArgumentParser(
        prog="python -m cds_etl_spark",
        description="CDS transformation batch driver (Spark engine)",
    )
    parser.add_argument(
        "--config_file", type=str, required=True, help="The path of the config file."
    )
    parser.add_argument(
        "--upload_s3",
        action="store_true",
        help="Upload transformed + raw files to the remote root after the run",
    )
    parser.add_argument(
        "--extract_raw_data_dictionary",
        action="store_true",
        help="Extract the raw data dictionary instead of transforming",
    )
    parser.add_argument(
        "--download_s3",
        action="store_true",
        help="Download raw data files from the remote root before the run",
    )
    parser.add_argument(
        "--pipeline_version",
        choices=["1.3", "1.2", "1.0"],
        default="1.3",
        help="Reference generation to run: 1.3 (single-sheet metadata, "
        "default), 1.2 (seven-sheet workbook flow) or 1.0 (two-workbook "
        "flow with the hard-coded property table)",
    )
    return parser


def main(argv: list[str] | None = None, spark: SparkSession | None = None) -> int:
    logging.basicConfig(
        level=logging.INFO, format="%(asctime)s %(name)s %(levelname)s %(message)s"
    )
    args = build_parser().parse_args(argv)
    config = load_yaml(args.config_file)
    timestamp = batch_timestamp()  # O33: one stamp names the whole run
    log.info("batch %s timestamp %s", config.get("DATA_BATCH_NAME"), timestamp)

    from cds_etl_spark.session import get_spark, jvm_counters, stop_spark

    own_session = spark is None
    if spark is None:
        spark = get_spark("cds_etl_spark_cli")
    try:
        model = load_model(config["NODE_FILE"], config.get("MODEL_FILE_PROPS"))
        if args.download_s3:
            got = download_batch(spark, config)
            log.info("downloaded %d raw files", len(got))
        v12 = args.pipeline_version == "1.2"
        v10 = args.pipeline_version == "1.0"
        if args.extract_raw_data_dictionary:
            if v10:
                raise SystemExit(
                    "--extract_raw_data_dictionary is not part of the v1.0 "
                    "generation (cds-transformation.py has no dictionary "
                    "mode); use --pipeline_version 1.2 or 1.3"
                )
            (run_extract_dictionary_v12 if v12 else run_extract_dictionary)(
                spark, config, model
            )
        elif v10:
            run_transform_v10(spark, config, model)
        else:
            (run_transform_v12 if v12 else run_transform)(spark, config, model)
            if args.upload_s3:
                up = upload_batch(spark, config, timestamp)
                log.info(
                    "uploaded %d transformed + %d raw files under %s",
                    len(up["transformed"]), len(up["raw"]), timestamp,
                )
        if own_session:
            log.info("jvm %s", jvm_counters(spark))
    finally:
        if own_session:
            stop_spark(spark)
    return 0
