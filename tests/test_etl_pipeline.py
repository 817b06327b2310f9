"""End-to-end CDS pipeline test (FIXTURES.md §2 shape).

One denormalized metadata table with raw submitter column names and
deliberate dirtiness, each row exercising a specific operator:
duplicate rows (O17), same-id conflicts + cascade delete (O22/O24),
many_to_many exemption (O22), orphans (O23), enum synonyms/extra-long
values (O19), SSN-like file names (O26), missing UI property (O27),
grouped row-merge (O18), combined keys (O10), secondary ids (O11).
"""

import pytest
from pyspark.sql import functions as F

from cds_etl_spark.model import load_model
from cds_etl_spark.operators import normalize_strings
from cds_etl_spark.pipeline import CdsPipeline

MODEL_YAML = {
    "Version": "test",
    "Nodes": {
        "study": {"Props": ["phs_accession", "study_name", "study_data_types", "study_version"]},
        "participant": {"Props": ["participant_id", "gender", "ethnicity"]},
        "sample": {"Props": ["sample_id", "sample_type"]},
        "file": {"Props": ["file_id", "file_name", "file_type", "file_size"]},
        "genomic_info": {"Props": ["library_id", "library_strategy", "bases"]},
        "treatment": {"Props": ["treatment_type"]},
    },
    "Relationships": {
        "of_study": {"Mul": "many_to_one", "Ends": [{"Src": "participant", "Dst": "study"}]},
        "of_participant": {"Mul": "many_to_one", "Ends": [{"Src": "sample", "Dst": "participant"}]},
        "from_sample": {"Mul": "many_to_many", "Ends": [{"Src": "file", "Dst": "sample"}]},
        "of_file": {"Mul": "many_to_one", "Ends": [{"Src": "genomic_info", "Dst": "file"}]},
    },
}

LONG_VALUE = "L" * 1100

PROPS_YAML = {
    "PropDefinitions": {
        "gender": {"Enum": ["Male", "Female"]},
        "sample_type": {"Enum": ["Tumor", "Normal"]},
        "file_type": {"Enum": ["FASTQ", "BAM"]},
        "library_strategy": {"Enum": ["WGS", "WXS"]},
        "file_size": {"Type": "integer"},
        "bases": {"Type": "integer"},
    }
}

RAW_DICT = {
    "study": {
        "phs_accession": "phs_accession",
        "study_name": "study_name",
        "study_data_type": "study_data_types",
        "study_version": "study_version",
    },
    "participant": {"participant id": "participant_id", "gender": "gender"},
    "sample": {"sample_id": "sample_id", "sample_type": "sample_type"},
    "file": {
        "GUID": "file_id",
        "file_name": "file_name",
        "file_type": "file_type",
        "file_size": "file_size",
    },
    "genomic_info": {"library_strategy": "library_strategy", "bases": "bases"},
    "treatment": {"treatment_type": "treatment_type"},
}

CONFIG = {
    "NODE_ID_FIELD": {
        "study": "phs_accession",
        "participant": "participant_id",
        "sample": "sample_id",
        "file": "file_id",
        "genomic_info": "library_id",
    },
    "PARENT_MAPPING_COLUMNS": [
        {"node": "participant", "parent_node": "study", "property": "phs_accession", "relationship": "of_study"},
        {"node": "sample", "parent_node": "participant", "property": "participant_id", "relationship": "of_participant"},
        {"node": "file", "parent_node": "sample", "property": "sample_id", "relationship": "from_sample"},
        {"node": "genomic_info", "parent_node": "file", "property": "file_id", "relationship": "of_file"},
    ],
    "COMBINE_NODE": [{"node": "study", "id_column": "phs_accession"}],
    "COMBINE_COLUMN": [
        {"node": "sample", "column1": "sample_id", "column2": "sample_type", "new_column": "sample_id", "external_node": False}
    ],
    "SECONDARY_ID_COLUMN": [
        {"node": "genomic_info", "node_id": "library_id", "secondary_id": "file.file_id"}
    ],
    "REMOVE_NODES": ["treatment"],
}

CLEAN_DICT = {
    "gender": {"female": "Female"},
    "sample_type": {"normal": "Normal", "nan_value": "Not Reported"},
    "file_type": {"fastq": "FASTQ"},
    "library_strategy": {"wgs": "WGS"},
    "extra_long_values": [LONG_VALUE],
}

UI_MAPPING = {"participant": ["ethnicity"]}

COLUMNS = [
    "phs_accession", "study_name", "study_data_type", "study_version",
    "participant id", "gender", "sample_id", "sample_type",
    "GUID", "file_name", "file_type", "file_size",
    "library_strategy", "bases", "treatment_type",
]

ROWS = [
    # r1: clean; SSN-like file name (O26)
    ("phs001", "StudyA", "Genomic", "2", "P1", "Male", "S1", "Tumor",
     "F1", "data_123-45-6789.bam", "BAM", 100.0, "WGS", 1000.0, "Rx"),
    # r2: same ids, new study_data_type → study merge 'Genomic, Imaging' (O18)
    ("phs001", "StudyA", "Imaging", "2", "P1", "Male", "S1", "Tumor",
     "F1", "data_123-45-6789.bam", "BAM", 100.0, "WGS", 1000.0, "Rx"),
    # r3: full duplicate of r1 (O17)
    ("phs001", "StudyA", "Genomic", "2", "P1", "Male", "S1", "Tumor",
     "F1", "data_123-45-6789.bam", "BAM", 100.0, "WGS", 1000.0, "Rx"),
    # r4: enum synonyms ('female','normal','fastq','wgs'→clean, O19);
    # whitespace dirtiness (O3/O4); extra-long enum value
    ("phs001", "StudyA", "Genomic", "2", "P2", " female ", "S2", "normal",
     "F2", "clean_file.fastq", "fastq", 200.0, LONG_VALUE, 2000.0, "Rx"),
    # r5a/r5b: participant P3 gender conflict → delete + cascade (O22/O24)
    ("phs001", "StudyA", "Genomic", "2", "P3", "Male", "S3", "Tumor",
     "F3", "f3.bam", "BAM", 300.0, "WGS", 3000.0, "Rx"),
    ("phs001", "StudyA", "Genomic", "2", "P3", "Female", "S3", "Tumor",
     "F3", "f3.bam", "BAM", 300.0, "WGS", 3000.0, "Rx"),
    # r6a/r6b: file F4 under two samples → many_to_many exemption (O22)
    ("phs001", "StudyA", "Genomic", "2", "P4", "Male", "S4", "Tumor",
     "F4", "f4.bam", "BAM", 400.0, "WGS", 4000.0, "Rx"),
    ("phs001", "StudyA", "Genomic", "2", "P4", "Male", "S5", "Tumor",
     "F4", "f4.bam", "BAM", 400.0, "WGS", 4000.0, "Rx"),
    # r7: orphan participant P5 (blank study id, O3 → null FK → O23)
    ("   ", "StudyA", "Genomic", "2", "P5", "Male", "S6", "Tumor",
     "F6", "f6.bam", "BAM", 600.0, "WGS", 6000.0, "Rx"),
]


def _fixture_metadata(spark):
    schema = (
        "`phs_accession` string, `study_name` string, `study_data_type` string, "
        "`study_version` string, `participant id` string, `gender` string, "
        "`sample_id` string, `sample_type` string, `GUID` string, `file_name` string, "
        "`file_type` string, `file_size` double, `library_strategy` string, "
        "`bases` double, `treatment_type` string"
    )
    return spark.createDataFrame(ROWS, schema=schema)


@pytest.fixture(scope="module")
def result(spark):
    model = load_model(MODEL_YAML, PROPS_YAML)
    pipe = CdsPipeline(model, RAW_DICT, CONFIG, CLEAN_DICT, UI_MAPPING)
    return pipe.run(_fixture_metadata(spark), raw_data_name="fixture.xlsx")


def rows_of(result, node):
    return {tuple(r) for r in result.tables[node].collect()}


def test_treatment_removed(result):
    assert "treatment" not in result.tables


def test_study_combined(result):
    rows = result.tables["study"].collect()
    assert len(rows) == 1
    row = rows[0].asDict()
    assert row["phs_accession"] == "phs001"
    assert row["study_data_types"] == "Genomic, Imaging"
    assert row["study_version"] == "2"
    assert row["type"] == "study"


def test_participant_outcomes(result):
    df = result.tables["participant"]
    by_id = {r["participant_id"]: r.asDict() for r in df.collect()}
    # P3 conflict-deleted, P5 orphan-deleted
    assert set(by_id) == {"P1", "P2", "P4"}
    # enum synonym cleaned after trim (O4+O19)
    assert by_id["P2"]["gender"] == "Female"
    # UI fill (O27)
    assert all(r["ethnicity"] == "Not specified in data" for r in by_id.values())
    assert by_id["P1"]["study.phs_accession"] == "phs001"


def test_sample_combined_key_and_cascade(result):
    df = result.tables["sample"]
    ids = {r["sample_id"] for r in df.collect()}
    # combined key uses RAW sample_type (combine happens before clean);
    # S3 cascade-deleted with P3, S6 with P5
    assert ids == {"S1_Tumor", "S2_normal", "S4_Tumor", "S5_Tumor"}
    by_id = {r["sample_id"]: r.asDict() for r in df.collect()}
    # but the sample_type VALUE is cleaned (O19 after O10)
    assert by_id["S2_normal"]["sample_type"] == "Normal"


def test_file_m2m_exemption_and_cascade(result):
    df = result.tables["file"]
    rows = [r.asDict() for r in df.collect()]
    ids = {r["file_id"] for r in rows}
    assert ids == {"F1", "F2", "F4"}  # F3, F6 cascade-deleted
    # F4 kept twice (one per sample edge) — many_to_many exemption
    f4 = [r for r in rows if r["file_id"] == "F4"]
    assert len(f4) == 2
    assert {r["sample.sample_id"] for r in f4} == {"S4_Tumor", "S5_Tumor"}
    # integer coercion: double 100.0 → '100' (O19)
    f1 = [r for r in rows if r["file_id"] == "F1"][0]
    assert f1["file_size"] == "100"
    # enum synonym
    f2 = [r for r in rows if r["file_id"] == "F2"][0]
    assert f2["file_type"] == "FASTQ"


def test_genomic_info_secondary_id_and_clean(result):
    df = result.tables["genomic_info"]
    by_id = {r["library_id"]: r.asDict() for r in df.collect()}
    assert set(by_id) == {"F1", "F2", "F4"}
    assert by_id["F1"]["library_strategy"] == "WGS"  # in-enum passthrough
    assert by_id["F2"]["library_strategy"] == "Not specified in data"  # extra-long
    assert by_id["F1"]["bases"] == "1000"


def test_reports(result):
    id_rows = [r.asDict() for r in result.id_report.collect()]
    assert any(
        r["node name"] == "participant" and r["ID"] == "P3" and r["conflict property"] == "['gender']"
        for r in id_rows
    )
    parent_rows = [r.asDict() for r in result.parent_report.collect()]
    assert any(r["node name"] == "participant" and r["ID"] == "P5" for r in parent_rows)
    ssn = [r.asDict() for r in result.ssn_report.collect()]
    assert any(
        r["File_Name"] == "data_123-45-6789.bam" and r["Suspicious_SSN"] == "['123-45-6789']"
        for r in ssn
    )
    ui = [r.asDict() for r in result.ui_report.collect()]
    assert any(r["Missing_Properties"] == "participant.ethnicity" for r in ui)


def test_projection_stage_has_no_joins(spark):
    """Secondary ids, combined keys and parent FKs are column
    expressions over the one ingest scan: every node table leaving the
    projection stage is a single select, not a row-id self-join."""
    model = load_model(MODEL_YAML, PROPS_YAML)
    pipe = CdsPipeline(model, RAW_DICT, CONFIG, CLEAN_DICT, UI_MAPPING)
    tables = pipe.project(normalize_strings(_fixture_metadata(spark)))
    assert set(tables) == set(MODEL_YAML["Nodes"]) - {"treatment"}
    for node, df in tables.items():
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert "Join" not in plan, f"{node}:\n{plan}"
    # The copied columns are there, aligned on the source row.
    sample = {tuple(r) for r in tables["sample"].select("sample_id", "`participant.participant_id`").collect()}
    assert ("S5_Tumor", "P4") in sample and ("S6_Tumor", "P5") in sample
    genomic = {tuple(r) for r in tables["genomic_info"].select("library_id", "`file.file_id`").collect()}
    assert ("F4", "F4") in genomic


def test_child_without_mapped_columns_is_empty(spark):
    """A node named in PARENT_MAPPING_COLUMNS whose data file has none of
    its columns comes out empty (and the sink skips it) instead of
    failing the run."""
    model = load_model(
        {
            "Version": "test",
            "Nodes": {
                "study": {"Props": ["phs_accession", "study_name"]},
                "participant": {"Props": ["participant_id", "gender"]},
            },
            "Relationships": {
                "of_study": {"Mul": "many_to_one", "Ends": [{"Src": "participant", "Dst": "study"}]},
            },
        },
        {"PropDefinitions": {}},
    )
    config = {
        "NODE_ID_FIELD": {"study": "phs_accession", "participant": "participant_id"},
        "PARENT_MAPPING_COLUMNS": [
            {"node": "participant", "parent_node": "study", "property": "phs_accession", "relationship": "of_study"}
        ],
    }
    raw_dict = {
        "study": {"phs_accession": "phs_accession", "study_name": "study_name"},
        "participant": {"participant id": "participant_id", "gender": "gender"},
    }
    metadata = spark.createDataFrame(
        [("phs001", "StudyA"), ("phs001", "StudyA")], "phs_accession string, study_name string"
    )
    out = CdsPipeline(model, raw_dict, config).run(metadata, raw_data_name="study_only.tsv")
    assert [tuple(r) for r in out.tables["study"].collect()] == [("phs001", "StudyA", "study")]
    participant = out.tables["participant"]
    assert participant.columns == ["type", "study.phs_accession"]
    assert participant.count() == 0
    assert out.id_report.count() == 0 and out.parent_report.count() == 0
