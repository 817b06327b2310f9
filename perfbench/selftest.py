"""Self-tests of the benchmark's generators and output checkers; no
Spark needed.

    python3 perfbench/selftest.py

* generation is byte-identical for a seed, and differs across seeds;
* each checker accepts outputs rendered from the truth, and rejects the
  same outputs with one node row dropped, one report row dropped, or
  (for the manifest) a surviving contaminated document or a chunk out of
  place.

Exits 0 when every test passes, 1 otherwise.
"""

from __future__ import annotations

import copy
import filecmp
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import cds  # noqa: E402
import llm  # noqa: E402

WORK = os.path.join(os.path.dirname(HERE), ".perfbench", "selftest")
REPORTS = (
    ("id_report", "ID_validation_result", ["node name", "ID", "conflict property"], "stem"),
    ("parent_report", "Parent_validation_result", ["node name", "ID", "parent ID field"], "stem"),
    ("ssn_report", "Filename_validation_result", ["Raw_Data_File", "File_Name", "Suspicious_SSN"], "batch"),
    ("ui_report", "Properties_validation_result", ["Missing_Properties", "UI_Related", "Raw_Data_File"], "batch"),
)


def same_tree(a: str, b: str) -> bool:
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.funny_files:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors and all(same_tree(os.path.join(a, d), os.path.join(b, d))
                                               for d in cmp.common_dirs)


def render_cds(run_dir: str, truth: dict, history: list[str]) -> None:
    """Write the outputs the CLI should produce for one batch."""
    batch, stem = truth["batch"], os.path.splitext(truth["data_file"])[0]
    out = os.path.join(run_dir, "out", batch)
    rep = os.path.join(run_dir, "validation", batch)
    os.makedirs(out, exist_ok=True)
    os.makedirs(rep, exist_ok=True)
    hist = ",".join(sorted(set(history), reverse=True))
    cds.write_tsv(os.path.join(out, f"{stem}-study.tsv"), ["phs_accession", "study_version"],
                  [[truth["phs"], hist]])
    for node, ids in truth["survivors"].items():
        key = cds.ID_FIELD[node]
        rows = [[i, "Not specified in data"] for i, n in sorted(ids.items()) for _ in range(n)]
        cds.write_tsv(os.path.join(out, f"{stem}-{node}.tsv"), [key, "ethnicity"], rows)
    for key, name, cols, prefix in REPORTS:
        p = stem if prefix == "stem" else batch
        cds.write_tsv(os.path.join(rep, f"{p}-{name}.tsv"), cols, truth[key])


def drop_last_row(path: str) -> None:
    with open(path) as f:
        lines = f.readlines()
    with open(path, "w") as f:
        f.writelines(lines[:-1])


def test_generation_is_deterministic() -> None:
    for name, gen in (
        ("cds", lambda d, s: cds.generate(d, s, [40, 200, 60], versions_per_study=2)),
        ("llm", lambda d, s: llm.generate(d, s, 600)),
    ):
        a, b, c = (os.path.join(WORK, f"{name}-{k}") for k in "abc")
        gen(a, 5)
        gen(b, 5)
        gen(c, 6)
        assert same_tree(a, b), f"{name}: same seed, different bytes"
        assert not same_tree(a, c), f"{name}: different seeds, same bytes"


def test_cds_checker_rejects_corruption() -> None:
    d, run = os.path.join(WORK, "cds-in"), os.path.join(WORK, "cds-run")
    truths = cds.generate(d, 9, [120, 120], versions_per_study=2)
    history: list[str] = []
    for t in truths:
        history.append(t["version"])
        render_cds(run, t, history)
        assert cds.check_batch(run, t, history) == [], cds.check_batch(run, t, history)
    t = truths[1]
    stem = os.path.splitext(t["data_file"])[0]
    out = os.path.join(run, "out", t["batch"])
    rep = os.path.join(run, "validation", t["batch"])
    assert cds.check_batch(run, t, history[:1]), "history not checked"
    for path in (
        os.path.join(out, f"{stem}-sample.tsv"),
        os.path.join(out, f"{stem}-file.tsv"),
        os.path.join(rep, f"{stem}-ID_validation_result.tsv"),
        os.path.join(rep, f"{stem}-Parent_validation_result.tsv"),
        os.path.join(rep, f"{t['batch']}-Filename_validation_result.tsv"),
    ):
        render_cds(run, t, history)
        drop_last_row(path)
        assert cds.check_batch(run, t, history), f"dropped row of {os.path.basename(path)} passed"


def test_llm_checker_rejects_corruption() -> None:
    truth = llm.generate(os.path.join(WORK, "llm-in"), 9, 800)
    rows, counts = truth["manifest"], dict(truth["rows"])
    assert llm.check_manifest(copy.deepcopy(rows), counts, truth) == []
    assert llm.check_manifest(rows[:-1], counts, truth), "dropped manifest row passed"
    bad = dict(counts, deduped=counts["deduped"] + 1)
    assert llm.check_manifest(rows, bad, truth), "wrong stage count passed"
    leaked = rows + [["en", str(truth["dropped"]["contaminated"][0]), "0", "5", "0"]]
    assert any("contaminated" in e for e in llm.check_manifest(leaked, counts, truth))
    moved = copy.deepcopy(rows)
    moved[3][2] = str(int(moved[3][2]) + 1)
    assert any("contiguity" in e for e in llm.check_manifest(moved, counts, truth))


def main() -> int:
    shutil.rmtree(WORK, ignore_errors=True)
    failed = 0
    try:
        for test in (test_generation_is_deterministic, test_cds_checker_rejects_corruption,
                     test_llm_checker_rejects_corruption):
            try:
                test()
                print(f"ok   {test.__name__}")
            except AssertionError as e:
                failed += 1
                print(f"FAIL {test.__name__}: {e}")
    finally:
        shutil.rmtree(WORK, ignore_errors=True)
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
