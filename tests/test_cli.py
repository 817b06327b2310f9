"""End-to-end CLI driver golden test (EP1 parity).

`python -m cds_etl_spark --config_file ...` against an on-disk batch:
config YAML → pipeline → flat per-node TSVs + validation reports +
historical accumulation, plus the --extract_raw_data_dictionary mode
and the O33-stamped upload/download transfers against a file:// remote
root (the reference's S3 flow, scheme-swapped for the sandbox).
"""

import csv
import os
import re

import pytest
import yaml

from cds_etl_spark.batch import batch_timestamp
from cds_etl_spark.cli import main
from cds_etl_spark.sources.transfer import download_batch, list_files

MODEL_YAML = {
    "Version": "test",
    "Nodes": {
        "study": {"Props": ["phs_accession", "study_name", "study_version"]},
        "participant": {"Props": ["participant_id", "gender", "ethnicity"]},
        "file": {"Props": ["file_id", "file_name"]},
    },
    "Relationships": {
        "of_study": {"Mul": "many_to_one", "Ends": [{"Src": "participant", "Dst": "study"}]},
        "of_participant": {"Mul": "many_to_one", "Ends": [{"Src": "file", "Dst": "participant"}]},
    },
}

PROPS_YAML = {"PropDefinitions": {"gender": {"Enum": ["Male", "Female"]}}}

RAW_DICT = {
    "study": {
        "phs_accession": "phs_accession",
        "study_name": "study_name",
        "study_version": "study_version",
    },
    "participant": {"participant id": "participant_id", "gender": "gender"},
    "file": {"GUID": "file_id", "file_name": "file_name"},
}

COLUMNS = [
    "phs_accession", "study_name", "study_version",
    "participant id", "gender", "GUID", "file_name",
]

ROWS = [
    ("phs9", "S", "2", "P1", "Male", "F1", "data_123-45-6789.bam"),
    ("phs9", "S", "2", "P2", "female", "F2", "clean.fastq"),
]


def _write_tsv(path, columns, rows):
    with open(path, "w", newline="") as f:
        w = csv.writer(f, delimiter="\t")
        w.writerow(columns)
        w.writerows(rows)


def _read_tsv(path):
    with open(path, newline="") as f:
        return list(csv.DictReader(f, delimiter="\t"))


@pytest.fixture()
def workdir(tmp_path):
    d = tmp_path
    (d / "raw" / "batch1").mkdir(parents=True)
    (d / "remote").mkdir()
    _write_tsv(d / "raw" / "batch1" / "meta1.tsv", COLUMNS, ROWS)
    for name, obj in (
        ("model.yaml", MODEL_YAML),
        ("props.yaml", PROPS_YAML),
        ("raw_dict.yaml", RAW_DICT),
        ("clean_dict.yaml", {"gender": {"female": "Female"}}),
        ("ui_mapping.yaml", {"participant": ["ethnicity"]}),
    ):
        (d / name).write_text(yaml.dump(obj))
    config = {
        "NODE_FILE": str(d / "model.yaml"),
        "MODEL_FILE_PROPS": str(d / "props.yaml"),
        "RAW_DATA_DICTIONARY": str(d / "raw_dict.yaml"),
        "CLEAN_DICT": str(d / "clean_dict.yaml"),
        "VALIDATION_FILE": str(d / "ui_mapping.yaml"),
        "DATA_FOLDER": str(d / "raw"),
        "DATA_BATCH_NAME": "batch1",
        "OUTPUT_FOLDER": str(d / "out"),
        "ID_VALIDATION_RESULT_FOLDER": str(d / "validation"),
        "RATIO_LIMIT": 0.75,
        "REMOTE_ROOT": "file://" + str(d / "remote"),
        "S3_RAWDATA_SUBFOLDER": "incoming",
        "NODE_ID_FIELD": {"study": "phs_accession", "participant": "participant_id", "file": "file_id"},
        "PARENT_MAPPING_COLUMNS": [
            {"node": "participant", "parent_node": "study", "property": "phs_accession", "relationship": "of_study"},
            {"node": "file", "parent_node": "participant", "property": "participant_id", "relationship": "of_participant"},
        ],
        "COMBINE_NODE": [],
        "COMBINE_COLUMN": [],
        "SECONDARY_ID_COLUMN": [],
        "REMOVE_NODES": [],
        "HISTORICAL_PROPERTIES": [
            {"node": "study", "property": "study_version",
             "historical_property_file": str(d / "history_state.parquet")},
        ],
    }
    (d / "config.yaml").write_text(yaml.dump(config))
    return d


def test_batch_timestamp_format():
    assert re.fullmatch(r"\d{4}-\d{2}-\d{2}T\d{6}", batch_timestamp())


def test_transform_mode_writes_flat_tsvs_and_reports(workdir, spark):
    assert main(["--config_file", str(workdir / "config.yaml")], spark=spark) == 0
    out = workdir / "out" / "batch1"
    study = _read_tsv(out / "meta1-study.tsv")
    assert len(study) == 1 and study[0]["phs_accession"] == "phs9"
    participants = _read_tsv(out / "meta1-participant.tsv")
    assert {(r["participant_id"], r["gender"]) for r in participants} == {
        ("P1", "Male"), ("P2", "Female")  # enum-cleaned
    }
    # UI validation filled the missing UI-required property.
    assert all(r["ethnicity"] == "Not specified in data" for r in participants)
    # parent FK attached
    assert all(r["study.phs_accession"] == "phs9" for r in participants)
    rep = workdir / "validation" / "batch1"
    props = _read_tsv(rep / "batch1-Properties_validation_result.tsv")
    assert props[0]["Missing_Properties"] == "participant.ethnicity"
    ssn = _read_tsv(rep / "batch1-Filename_validation_result.tsv")
    assert any("123-45-6789" in r["File_Name"] for r in ssn)


def test_historical_accumulation_across_runs(workdir, spark):
    cfg = ["--config_file", str(workdir / "config.yaml")]
    assert main(cfg, spark=spark) == 0
    # Second batch arrives with a new study_version.
    _write_tsv(
        workdir / "raw" / "batch1" / "meta1.tsv",
        COLUMNS,
        [("phs9", "S", "3", "P1", "Male", "F1", "f.bam")],
    )
    assert main(cfg, spark=spark) == 0
    study = _read_tsv(workdir / "out" / "batch1" / "meta1-study.tsv")
    # Full history, comma-joined, sorted descending (reference order).
    assert study[0]["study_version"] == "3,2"


def test_extract_dictionary_mode(workdir, spark):
    raw_dict_path = workdir / "raw_dict.yaml"
    raw_dict_path.unlink()
    assert main(
        ["--config_file", str(workdir / "config.yaml"), "--extract_raw_data_dictionary"],
        spark=spark,
    ) == 0
    got = yaml.safe_load(raw_dict_path.read_text())
    assert got["study"]["phs_accession"] == "phs_accession"
    assert got["participant"]["participant id"] == "participant_id"
    assert got["file"]["file_name"] == "file_name"


def test_upload_and_download_roundtrip(workdir, spark):
    cfg_path = str(workdir / "config.yaml")
    assert main(["--config_file", cfg_path, "--upload_s3"], spark=spark) == 0
    remote = "file://" + str(workdir / "remote")
    ts_dirs = os.listdir(workdir / "remote" / "transformed" / "batch1")
    assert len(ts_dirs) == 1 and re.fullmatch(r"\d{4}-\d{2}-\d{2}T\d{6}", ts_dirs[0])
    up = list_files(spark, f"{remote}/transformed/batch1/{ts_dirs[0]}", ".tsv")
    assert any(p.endswith("meta1-study.tsv") for p in up)
    raw_up = list_files(spark, f"{remote}/raw/batch1/{ts_dirs[0]}", ".tsv")
    assert any(p.endswith("meta1.tsv") for p in raw_up)

    # Download: stage a remote incoming folder, pull into a fresh batch.
    (workdir / "remote" / "incoming").mkdir()
    _write_tsv(workdir / "remote" / "incoming" / "meta9.tsv", COLUMNS, ROWS)
    config = yaml.safe_load((workdir / "config.yaml").read_text())
    config["DATA_BATCH_NAME"] = "batch2"
    (workdir / "raw" / "batch2").mkdir()
    got = download_batch(spark, config)
    assert len(got) == 1
    assert os.path.exists(workdir / "raw" / "batch2" / "meta9.tsv")


def test_transform_releases_ingest_caches(workdir, spark):
    """A batch leaves nothing in the session's cache: each data file's
    ingest scan is unpersisted once the batch's sinks have run."""
    spark.catalog.clearCache()  # start from an empty cache in the shared session
    assert main(["--config_file", str(workdir / "config.yaml")], spark=spark) == 0
    assert (workdir / "out" / "batch1" / "meta1-study.tsv").exists()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
