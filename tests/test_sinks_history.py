"""Sinks (O30/O31) + historical state (O28/O29): TSV roundtrip, the
all-null skip guard, and idempotent history merge/re-stamp."""

import os

from cds_etl_spark.operators.history import add_historical_value, stamp_historical_value
from cds_etl_spark.sources.files import read_tsv, write_node_tsv, write_report_tsv, write_tsv_file


def test_tsv_roundtrip_and_null_skip(spark, tmp_path):
    df = spark.createDataFrame(
        [("phs001", "StudyA", None), ("phs002", None, "v2")],
        "phs_accession string, study_name string, study_version string",
    )
    path = write_node_tsv(df, str(tmp_path), "study", prefix="batch1")
    assert path and path.endswith("batch1-study")
    back = read_tsv(spark, path, schema=df.schema)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))

    # All-null frame → skipped, like the reference's print_data guard.
    empty = spark.createDataFrame([(None, None)], "a string, b string")
    assert write_node_tsv(empty, str(tmp_path), "empty") is None
    assert write_report_tsv(empty.limit(0), str(tmp_path), "report") is None


def _jobs_of(spark, group, fn):
    """(fn(), number of Spark jobs it ran), counted in its own job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_write_tsv_file_is_one_job(spark, tmp_path):
    df = spark.createDataFrame(
        [("phs001", None), (None, "v2")], "phs_accession string, `study.version` string"
    )
    path, jobs = _jobs_of(
        spark, "write_tsv_file_data", lambda: write_tsv_file(df, str(tmp_path), "study", "b1")
    )
    assert jobs == 1
    assert path == os.path.join(str(tmp_path), "b1-study.tsv")
    with open(path) as f:
        assert f.read().splitlines() == ["phs_accession\tstudy.version", "phs001\t", "\tv2"]
    assert sorted(os.listdir(tmp_path)) == [".b1-study.tsv.crc", "b1-study.tsv"]


def test_write_tsv_file_skips_frames_without_data(spark, tmp_path):
    dest = tmp_path / "b1-node.tsv"
    dest.write_text("previous batch\n")
    all_null = spark.createDataFrame([(None, None)], "a string, b string")
    for i, frame in enumerate((all_null, all_null.limit(0), all_null.filter("a = 'x'"))):
        path, jobs = _jobs_of(
            spark, f"write_tsv_file_skip{i}", lambda: write_tsv_file(frame, str(tmp_path), "node", "b1")
        )
        assert path is None and jobs == 1
        # No temp dir left behind; the existing destination is untouched.
        assert sorted(os.listdir(tmp_path)) == ["b1-node.tsv"]
        assert dest.read_text() == "previous batch\n"


def test_history_merge_and_stamp(spark, tmp_path):
    state = str(tmp_path / "hist.parquet")
    batch1 = spark.createDataFrame(
        [("phs001", "1"), ("phs002", "1")], "phs_accession string, study_version string"
    )
    batch2 = spark.createDataFrame(
        [("phs001", "2, 1")], "phs_accession string, study_version string"
    )
    add_historical_value(batch1, "phs_accession", "study_version", state)
    add_historical_value(batch2, "phs_accession", "study_version", state)
    # Idempotent: re-adding a seen batch changes nothing.
    add_historical_value(batch2, "phs_accession", "study_version", state)

    stamped = stamp_historical_value(batch2, "phs_accession", "study_version", state)
    [row] = stamped.collect()
    assert row["study_version"] == "2,1"  # full history, sorted desc

    # Keys with no history pass through unchanged.
    other = spark.createDataFrame(
        [("phs999", "7")], "phs_accession string, study_version string"
    )
    [row] = stamp_historical_value(other, "phs_accession", "study_version", state).collect()
    assert row["study_version"] == "7"


def test_history_stamped_frame_survives_later_merges(spark, tmp_path):
    """Regression (r5 review): the CLI stamps inside the file loop but
    writes all TSVs after it — a merge for file 2 must not delete the
    generation file 1's lazy stamped frame has pinned."""
    state = str(tmp_path / "hist_state")
    b1 = spark.createDataFrame(
        [("phs001", "1")], "phs_accession string, study_version string"
    )
    b2 = spark.createDataFrame(
        [("phs001", "2")], "phs_accession string, study_version string"
    )
    add_historical_value(b1, "phs_accession", "study_version", state)
    stamped1 = stamp_historical_value(b1, "phs_accession", "study_version", state)
    # Second file's merge writes a NEW generation; the old one must stay.
    add_historical_value(b2, "phs_accession", "study_version", state)
    stamped2 = stamp_historical_value(b2, "phs_accession", "study_version", state)
    # Materialize file 1's frame AFTER file 2's merge (the CLI's order).
    assert stamped1.collect()[0]["study_version"] == "1"
    assert stamped2.collect()[0]["study_version"] == "2,1"


def test_history_prunes_prior_runs_and_migrates_legacy(spark, tmp_path):
    import os

    from cds_etl_spark.operators import history as H

    # Legacy layout: state path IS a parquet dir (pre-r5 format).
    legacy = str(tmp_path / "legacy_state")
    spark.createDataFrame(
        [("phs001", "1")], "key string, value string"
    ).write.parquet(legacy)
    H._INITIALIZED.discard(legacy)
    df = spark.createDataFrame(
        [("phs001", "2")], "phs_accession string, study_version string"
    )
    add_historical_value(df, "phs_accession", "study_version", legacy)
    [row] = stamp_historical_value(
        df, "phs_accession", "study_version", legacy
    ).collect()
    assert row["study_version"] == "2,1"  # legacy content preserved
    assert sorted(d for d in os.listdir(legacy) if d.startswith("gen-")) == [
        "gen-000001", "gen-000002",
    ]

    # "Next process": init prunes to the latest generation only.
    H._INITIALIZED.discard(legacy)
    H._init_state(spark, legacy)
    assert sorted(d for d in os.listdir(legacy) if d.startswith("gen-")) == [
        "gen-000002",
    ]
    [row] = stamp_historical_value(
        df, "phs_accession", "study_version", legacy
    ).collect()
    assert row["study_version"] == "2,1"


def test_generation_rename_collision_retries(spark, tmp_path, monkeypatch):
    """ADVICE r5: if the next generation number is already taken (a
    racing writer claimed it between scan and rename), the merge lands
    on the next free number instead of failing or clobbering."""
    import os
    import shutil

    from cds_etl_spark.operators import history as H

    state = str(tmp_path / "hist_state")
    df = spark.createDataFrame([("k1", "a")], "id string, vals string")
    H.add_historical_value(df, "id", "vals", state)
    assert H._gen_names(state) == ["gen-000001"]

    # Inject the race at the only possible window: a second writer
    # claims gen-000002 between this process's scan and its rename (a
    # real racer writes valid parquet; the underscore-prefixed marker
    # is ignored by Spark reads and proves the dir was never touched).
    real_rename = os.rename
    fired = {}

    def racing_rename(src, dst):
        if dst.endswith("gen-000002") and not fired:
            fired["yes"] = True
            shutil.copytree(os.path.join(state, "gen-000001"), dst)
            with open(os.path.join(dst, "_marker"), "w") as f:
                f.write("other writer")
        return real_rename(src, dst)

    monkeypatch.setattr(os, "rename", racing_rename)
    df2 = spark.createDataFrame([("k1", "b")], "id string, vals string")
    H.add_historical_value(df2, "id", "vals", state)
    # Collision detected -> landed on gen-000003; the racer's
    # generation is untouched.
    assert "gen-000003" in H._gen_names(state)
    assert open(os.path.join(state, "gen-000002", "_marker")).read() == (
        "other writer"
    )
    out = H.stamp_historical_value(df2, "id", "vals", state).collect()
    assert out[0]["vals"] == "b,a"


def test_empty_state_has_no_python_side_scan(spark, tmp_path):
    """Before the first generation exists, the state is a literal frame
    built in the JVM: no optimized-plan leaf is a `LogicalRDD`, the
    Python-side scan that would start a Python worker in a study's
    first merge."""
    from cds_etl_spark.operators import history as H

    state = H._read_state(spark, str(tmp_path / "fresh_state"))
    assert state.columns == ["key", "value"]
    assert state.count() == 0
    leaves = state._jdf.queryExecution().optimizedPlan().collectLeaves()
    names = [leaves.apply(i).nodeName() for i in range(leaves.size())]
    assert "LogicalRDD" not in names, names
