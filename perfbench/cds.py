"""CDS submission batches: seeded generator, run config and output checker.

Inputs follow the FIXTURES.md §2.1 ``metadata_raw`` shape over the model
of ``tests/test_etl_pipeline.py`` (study, participant, sample, file,
genomic_info and a removed treatment node). Every study carries planted
dirtiness with a known outcome, so the checker can compare the CLI's
TSVs against the truth recorded at generation time:

* duplicate full rows                      -> collapse, no report row
* participant rows with a conflicting gender -> participant deleted,
  its samples, files and genomic_info cascade-deleted, one ID report row
* file rows with a conflicting file_size   -> file deleted, its
  genomic_info cascade-deleted, one ID report row
* a file listed under two samples (``from_sample`` is many_to_many)
  -> exempt from the conflict check, kept once per sample edge
* participants whose rows have a whitespace-only study id (orphans)
  -> deleted with their descendants, one parent report row
* enum synonyms, unknown enum values, one >1000-character enum value,
  whitespace padding, empty cells, float-strings in integer columns
* SSN-like file names                      -> one Filename report row each
* the UI-required ``participant.ethnicity`` is never submitted
  -> one Properties report row per data file, column filled
"""

from __future__ import annotations

import csv
import json
import os
import random
from collections import Counter

import yaml

MODEL_YAML = {
    "Version": "bench",
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

CLEAN_DICT = {
    "gender": {"female": "Female"},
    "sample_type": {"normal": "Normal", "nan_value": "Not Reported"},
    "file_type": {"fastq": "FASTQ"},
    "library_strategy": {"wgs": "WGS"},
    "extra_long_values": [LONG_VALUE],
}

UI_MAPPING = {"participant": ["ethnicity"]}

STATIC_CONFIG = {
    "RATIO_LIMIT": 0.75,
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
        {"node": "sample", "column1": "sample_id", "column2": "sample_type",
         "new_column": "sample_id", "external_node": False}
    ],
    "SECONDARY_ID_COLUMN": [
        {"node": "genomic_info", "node_id": "library_id", "secondary_id": "file.file_id"}
    ],
    "REMOVE_NODES": ["treatment"],
}

COLUMNS = [
    "phs_accession", "study_name", "study_data_type", "study_version",
    "participant id", "gender", "sample_id", "sample_type",
    "GUID", "file_name", "file_type", "file_size",
    "library_strategy", "bases", "treatment_type",
]

NODES = ("study", "participant", "sample", "file", "genomic_info")
ID_FIELD = STATIC_CONFIG["NODE_ID_FIELD"]

# (raw spelling, cleaned value)
GENDERS = [("Male", "Male"), ("Female", "Female"), ("female", "Female"),
           (" female ", "Female"), ("Unknown", "Unknown")]
SAMPLE_TYPES = ["Tumor", "Normal", "normal"]
FILE_TYPES = ["BAM", "FASTQ", "fastq"]
STRATEGIES = ["WGS", "WXS", "wgs"]


def _file_size(rng: random.Random) -> str:
    r = rng.random()
    size = rng.randrange(1_000, 10_000_000)
    if r < 0.1:
        return ""  # empty cell (O3)
    if r < 0.25:
        return f"{size}.0"  # float-string in an integer column
    return str(size)


def make_study(rng: random.Random, phs: str, version: str, n_rows: int, data_file: str):
    """Rows of one study's metadata sheet (about ``n_rows`` of them) and
    the truth for it: surviving ids per node (as a multiset) and the
    report rows the pipeline must emit. ``data_file`` is the submitted
    file's base name, which the reports quote."""
    rows: list[list[str]] = []
    survivors: dict[str, Counter] = {n: Counter() for n in NODES if n != "study"}
    id_report: list[list[str]] = []
    parent_report: list[list[str]] = []
    ssn_report: list[list[str]] = []
    long_planted = False
    i = 0
    while len(rows) < n_rows or i < 3:
        pid = f"{phs}-P{i}"
        # Every study has each kind of dirt, so every batch takes the
        # same code paths and runs the same Spark jobs: participant 0
        # has an SSN-named file under two samples, 1 conflicts, 2 is an
        # orphan and 3 has a conflicting file.
        fate = "conflict" if i == 1 else "orphan" if i == 2 else "clean"
        if i > 3:
            r = rng.random()
            fate = "conflict" if r < 0.03 else "orphan" if r < 0.06 else "clean"
        g_raw, g_clean = rng.choice(GENDERS)
        study_id = "   " if fate == "orphan" else phs
        p_rows: list[list[str]] = []
        samples = []
        for j in range(2 if i == 0 else rng.choice((1, 2, 2, 3))):
            sid = f"{pid}-S{j}"
            st = rng.choice(SAMPLE_TYPES)
            files = []
            for k in range(rng.choice((1, 1, 2))):
                fid = f"{sid}-F{k}"
                files.append({
                    "id": fid,
                    "name": f"{fid}.{rng.choice(('bam', 'fastq', 'cram'))}",
                    "type": rng.choice(FILE_TYPES),
                    "size": _file_size(rng),
                    "strategy": rng.choice(STRATEGIES),
                    "bases": str(rng.randrange(10_000, 10**9)),
                    "fate": "clean",
                })
            samples.append((sid, st, files))
        if fate == "clean":
            all_files = [f for _, _, fs in samples for f in fs]
            for f in all_files:
                r = rng.random()
                if r < 0.04:
                    f["fate"] = "ssn"
                elif r < 0.07 and f["size"]:
                    f["fate"] = "conflict"
            if not long_planted:
                all_files[0]["strategy"] = LONG_VALUE  # extra_long_values -> 'Not specified in data'
                long_planted = True
            if i == 0:
                all_files[0]["fate"] = "ssn"
            if i == 3:
                all_files[-1]["size"] = all_files[-1]["size"] or "1000"
                all_files[-1]["fate"] = "conflict"
        m2m = None
        if len(samples) > 1 and (i == 0 or rng.random() < 0.1):
            m2m = samples[0][2][0]
            if m2m["fate"] == "conflict":
                m2m["fate"] = "clean"

        def row(sid, st, f, **over):
            vals = {
                "phs_accession": study_id,
                "study_name": f"Study {phs}",
                "study_data_type": "Imaging" if rng.random() < 0.1 else "Genomic",
                "study_version": version,
                "participant id": pid,
                "gender": g_raw,
                "sample_id": sid,
                "sample_type": st,
                "GUID": f["id"],
                "file_name": f["name"],
                "file_type": f["type"],
                "file_size": f["size"],
                "library_strategy": f["strategy"],
                "bases": f["bases"],
                "treatment_type": "  " if rng.random() < 0.2 else "Rx",
            }
            vals.update(over)
            return [vals[c] for c in COLUMNS]

        for sid, st, files in samples:
            for f in files:
                if f["fate"] == "ssn":
                    if rng.random() < 0.5:
                        ssn = f"{rng.randrange(100, 1000)}-{rng.randrange(10, 100)}-{rng.randrange(1000, 10000)}"
                        f["name"] = f"{f['id']}_{ssn}.bam"
                    else:
                        ssn = f"{rng.randrange(10**8, 10**9)}"
                        f["name"] = f"{f['id']}_{ssn}_.fastq"
                    f["ssn_row"] = [data_file, f["name"], f"['{ssn}']"]
                    ssn_report.append(f["ssn_row"])
                p_rows.append(row(sid, st, f))
                if f["fate"] == "conflict":
                    other = str(int(f["size"].split(".")[0]) + 1)
                    p_rows.append(row(sid, st, f, file_size=other))
        if m2m is not None:
            sid, st, _ = samples[1]
            p_rows.append(row(sid, st, m2m))
            if m2m["fate"] == "ssn":  # scanned once per sample edge
                ssn_report.append(m2m["ssn_row"])
        if fate == "conflict":
            flip = "Male" if g_clean != "Male" else "Female"
            p_rows.append(p_rows[0][:5] + [flip] + p_rows[0][6:])
        # Full-row duplicates (O17).
        for r_ in list(p_rows):
            if rng.random() < 0.05:
                p_rows.append(list(r_))
        rows.extend(p_rows)

        if fate == "conflict":
            id_report.append(["participant", pid, "['gender']"])
        elif fate == "orphan":
            parent_report.append(["participant", pid, "study.phs_accession"])
        else:
            survivors["participant"][pid] += 1
            for sid, st, files in samples:
                survivors["sample"][f"{sid}_{st}"] += 1
                for f in files:
                    if f["fate"] == "conflict":
                        id_report.append(["file", f["id"], "['file_size']"])
                        continue
                    survivors["file"][f["id"]] += 2 if f is m2m else 1
                    survivors["genomic_info"][f["id"]] += 1
        i += 1
    rng.shuffle(rows)
    truth = {
        "phs": phs,
        "rows": len(rows),
        "survivors": {n: dict(c) for n, c in survivors.items()},
        "id_report": sorted(id_report),
        "parent_report": sorted(parent_report),
        "ssn_report": sorted(ssn_report),
        "ui_report": [["participant.ethnicity", "true", data_file]],
    }
    return rows, truth


def write_tsv(path: str, header: list[str], rows: list[list[str]]) -> None:
    with open(path, "w", newline="") as f:
        w = csv.writer(f, delimiter="\t", lineterminator="\n")
        w.writerow(header)
        w.writerows(rows)


def read_tsv(path: str) -> list[dict]:
    with open(path, newline="") as f:
        return list(csv.DictReader(f, delimiter="\t"))


def write_model_files(d: str) -> None:
    for name, obj in (
        ("model.yaml", MODEL_YAML),
        ("props.yaml", PROPS_YAML),
        ("raw_dict.yaml", RAW_DICT),
        ("clean_dict.yaml", CLEAN_DICT),
        ("ui_mapping.yaml", UI_MAPPING),
    ):
        with open(os.path.join(d, name), "w") as f:
            yaml.safe_dump(obj, f, sort_keys=True)


def generate(d: str, seed: int, batch_rows: list[int], versions_per_study: int) -> list[dict]:
    """Write one batch directory per entry of ``batch_rows`` under
    ``d/raw`` plus the model and dictionaries, and return the truth of
    every batch. Batch ``b`` submits study ``b // versions_per_study``
    at version ``b % versions_per_study + 1``, so studies are
    resubmitted and the history state is read, merged and re-stamped."""
    rng = random.Random(seed)
    os.makedirs(d, exist_ok=True)
    write_model_files(d)
    base = 100_000 + rng.randrange(800_000)
    truths = []
    for b, n_rows in enumerate(batch_rows):
        phs = f"phs{base + b // versions_per_study:06d}"
        version = str(b % versions_per_study + 1)
        name = f"batch{b:03d}"
        data_file = f"{phs}_v{version}.tsv"
        rows, truth = make_study(rng, phs, version, n_rows, data_file)
        os.makedirs(os.path.join(d, "raw", name), exist_ok=True)
        write_tsv(os.path.join(d, "raw", name, data_file), COLUMNS, rows)
        truth.update(batch=name, data_file=data_file, version=version)
        truths.append(truth)
    with open(os.path.join(d, "truth.json"), "w") as f:
        json.dump(truths, f, sort_keys=True)
    return truths


def write_config(path: str, inputs: str, run_dir: str, batch: str) -> None:
    """The CLI config of one batch: dictionaries from the generated
    inputs, outputs and history state under ``run_dir``."""
    cfg = dict(STATIC_CONFIG)
    cfg.update({
        "NODE_FILE": os.path.join(inputs, "model.yaml"),
        "MODEL_FILE_PROPS": os.path.join(inputs, "props.yaml"),
        "RAW_DATA_DICTIONARY": os.path.join(inputs, "raw_dict.yaml"),
        "CLEAN_DICT": os.path.join(inputs, "clean_dict.yaml"),
        "VALIDATION_FILE": os.path.join(inputs, "ui_mapping.yaml"),
        "DATA_FOLDER": os.path.join(inputs, "raw"),
        "DATA_BATCH_NAME": batch,
        "OUTPUT_FOLDER": os.path.join(run_dir, "out"),
        "ID_VALIDATION_RESULT_FOLDER": os.path.join(run_dir, "validation"),
        "HISTORICAL_PROPERTIES": [
            {"node": "study", "property": "study_version",
             "historical_property_file": os.path.join(run_dir, "history_state")},
        ],
    })
    with open(path, "w") as f:
        yaml.safe_dump(cfg, f, sort_keys=True)


def _report(path: str, cols: list[str]) -> list[list[str]]:
    if not os.path.exists(path):
        return []
    return sorted([r[c] for c in cols] for r in read_tsv(path))


def check_batch(run_dir: str, truth: dict, history: list[str]) -> list[str]:
    """Compare one batch's CLI outputs with its truth. ``history`` is
    every version of this study submitted so far in the run, this batch
    included. Returns the list of mismatches (empty = correct)."""
    errors = []
    batch, stem = truth["batch"], os.path.splitext(truth["data_file"])[0]
    out = os.path.join(run_dir, "out", batch)
    rep = os.path.join(run_dir, "validation", batch)

    study = read_tsv(os.path.join(out, f"{stem}-study.tsv"))
    want_hist = ",".join(sorted(set(history), reverse=True))
    got_study = [(r["phs_accession"], r["study_version"]) for r in study]
    if got_study != [(truth["phs"], want_hist)]:
        errors.append(f"{batch} study: got {got_study}, want {[(truth['phs'], want_hist)]}")
    for node, want in truth["survivors"].items():
        path = os.path.join(out, f"{stem}-{node}.tsv")
        rows = read_tsv(path) if os.path.exists(path) else []
        got = Counter(r[ID_FIELD[node]] for r in rows)
        if got != Counter(want):
            missing = sorted((Counter(want) - got).elements())[:3]
            extra = sorted((got - Counter(want)).elements())[:3]
            errors.append(f"{batch} {node}: {sum(got.values())} rows, want "
                          f"{sum(want.values())}; missing {missing} extra {extra}")
        if node == "participant" and any(
            r["ethnicity"] != "Not specified in data" for r in rows
        ):
            errors.append(f"{batch} participant: ethnicity not filled")
    for key, name, cols, prefix in (
        ("id_report", "ID_validation_result", ["node name", "ID", "conflict property"], stem),
        ("parent_report", "Parent_validation_result", ["node name", "ID", "parent ID field"], stem),
        ("ssn_report", "Filename_validation_result", ["Raw_Data_File", "File_Name", "Suspicious_SSN"], batch),
        ("ui_report", "Properties_validation_result", ["Missing_Properties", "UI_Related", "Raw_Data_File"], batch),
    ):
        got = _report(os.path.join(rep, f"{prefix}-{name}.tsv"), cols)
        if got != truth[key]:
            errors.append(f"{batch} {name}: {len(got)} rows, want {len(truth[key])}")
    return errors
