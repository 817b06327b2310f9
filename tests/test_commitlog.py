"""Commit-log snapshot layout (sources/commitlog.py).

Contracts: versions are monotonic and atomic (a lost rename race
retries, never clobbers); reads pin exact file sets (time travel);
overwrite is logical until vacuum; compaction is itself a commit;
vacuum removes exactly the unreferenced files.
"""

import pytest

from cds_etl_spark.sources.commitlog import (
    _read_manifest,
    commit_append,
    commit_overwrite,
    compact_snapshot,
    latest_version,
    read_snapshot,
    vacuum,
)


def _df(spark, lo, hi):
    return spark.range(lo, hi).withColumnRenamed("id", "k")


def _ks(df):
    return sorted(r["k"] for r in df.collect())


def test_append_read_time_travel(spark, tmp_path):
    t = str(tmp_path / "tbl")
    assert latest_version(spark, t) is None
    v0 = commit_append(_df(spark, 0, 10), t)
    v1 = commit_append(_df(spark, 10, 15), t)
    assert (v0, v1) == (0, 1)
    assert latest_version(spark, t) == 1
    assert _ks(read_snapshot(spark, t)) == list(range(15))
    # Time travel: version 0 still sees only the first commit.
    assert _ks(read_snapshot(spark, t, 0)) == list(range(10))


def test_overwrite_is_logical(spark, tmp_path):
    t = str(tmp_path / "tbl")
    commit_append(_df(spark, 0, 10), t)
    v1 = commit_overwrite(_df(spark, 100, 103), t)
    assert _ks(read_snapshot(spark, t)) == [100, 101, 102]
    # The replaced snapshot remains readable until vacuum.
    assert _ks(read_snapshot(spark, t, v1 - 1)) == list(range(10))


def test_version_race_retries(spark, tmp_path):
    t = str(tmp_path / "tbl")
    commit_append(_df(spark, 0, 5), t)
    # Another writer "wins" version 1: pre-publish its manifest.
    import json
    import os

    os.makedirs(f"{t}/_log", exist_ok=True)
    schema = _df(spark, 0, 1).schema.json()
    with open(f"{t}/_log/{1:012d}.json", "w") as fh:
        json.dump(
            {"version": 1, "mode": "append", "files": [],
             "schema": schema},
            fh,
        )
    v = commit_append(_df(spark, 5, 8), t)
    # Our commit lands at 2 and chains onto the winner's (empty)
    # snapshot — never clobbers version 1.
    assert v == 2
    assert _ks(read_snapshot(spark, t, 2)) == [5, 6, 7]
    assert read_snapshot(spark, t, 1).count() == 0


def test_compact_snapshot_same_rows_fewer_files(spark, tmp_path):
    t = str(tmp_path / "tbl")
    for i in range(4):
        commit_append(_df(spark, i * 10, i * 10 + 10).repartition(4), t)
    before = read_snapshot(spark, t)
    files_before = len(_read_manifest(spark, t, latest_version(spark, t))["files"])
    v = compact_snapshot(spark, t)
    after = read_snapshot(spark, t, v)
    assert _ks(after) == _ks(before) == list(range(40))
    # Every append wrote at least one file; the tiny table compacts to one.
    assert files_before >= 4
    assert len(_read_manifest(spark, t, v)["files"]) == 1 < files_before
    assert after.rdd.getNumPartitions() == 1
    # Old pre-compaction version still reads.
    assert _ks(read_snapshot(spark, t, v - 1)) == list(range(40))


def test_vacuum_removes_only_unreferenced(spark, tmp_path):
    t = str(tmp_path / "tbl")
    commit_append(_df(spark, 0, 10), t)
    commit_overwrite(_df(spark, 50, 55), t)
    deleted = vacuum(spark, t, keep_last=1, retention_s=0)
    assert deleted > 0
    # Latest survives vacuum intact...
    assert _ks(read_snapshot(spark, t)) == list(range(50, 55))
    # ...and the vacuumed version is gone (manifest dropped).
    with pytest.raises(Exception):
        read_snapshot(spark, t, 0).collect()
    # Idempotent: nothing left to delete.
    assert vacuum(spark, t, keep_last=1, retention_s=0) == 0


def test_vacuum_keep_last_guard(spark, tmp_path):
    with pytest.raises(ValueError):
        vacuum(spark, str(tmp_path / "t"), keep_last=0)


def test_vacuum_retention_spares_inflight_writer(spark, tmp_path):
    """An in-flight writer's data files (written, not yet published)
    must survive a concurrent vacuum: they are unreferenced by any
    manifest, but younger than the retention window — deleting them
    would let the writer publish a manifest pointing at deleted
    files."""
    from cds_etl_spark.sources.commitlog import _publish, _write_data

    t = str(tmp_path / "tbl")
    commit_append(_df(spark, 0, 10), t)
    commit_overwrite(_df(spark, 50, 55), t)
    # Simulate a concurrent writer paused between write and publish.
    inflight = _write_data(_df(spark, 90, 93), t)
    deleted = vacuum(spark, t, keep_last=1)  # default retention
    assert deleted == 0  # every unreferenced file is inside the window
    # The paused writer resumes and publishes successfully.
    df = _df(spark, 90, 93)
    _publish(spark, t, inflight, "append", df.schema.json())
    assert _ks(read_snapshot(spark, t)) == [50, 51, 52, 53, 54, 90, 91, 92]
    # With exclusive access (retention 0) the same files WOULD go.
    commit_overwrite(_df(spark, 1, 2), t)
    assert vacuum(spark, t, keep_last=1, retention_s=0) > 0


def test_publish_rename_never_clobbers(spark, tmp_path):
    """The commit point must FAIL, not replace, when the destination
    version already exists — on file:// a plain POSIX rename(2) would
    silently replace it, losing the winning writer's manifest. The
    FileContext Rename.NONE path must report the lost race (False)
    and leave the winner's bytes intact."""
    from cds_etl_spark.sources.commitlog import _fs, _jpath, _publish_rename

    d = str(tmp_path / "race")
    jvm, fs = _fs(spark, d)
    winner = _jpath(jvm, f"{d}/000000000001.json")
    loser_tmp = _jpath(jvm, f"{d}/.tmp-loser.json")
    for p, body in [(winner, b'{"winner": true}'), (loser_tmp, b"{}")]:
        out = fs.create(p, False)
        try:
            out.write(body)
        finally:
            out.close()
    assert _publish_rename(spark, jvm, fs, loser_tmp, winner) is False
    with open(f"{tmp_path}/race/000000000001.json", "rb") as f:
        assert f.read() == b'{"winner": true}'
    # A free destination still publishes.
    free = _jpath(jvm, f"{d}/000000000002.json")
    assert _publish_rename(spark, jvm, fs, loser_tmp, free) is True


def test_stream_commitlog_sink_exactly_once(spark, tmp_path):
    from cds_etl_spark.streaming.ops import stream_commitlog_sink

    src = str(tmp_path / "inbox")
    b1 = _df(spark, 0, 10)
    b1.coalesce(1).write.mode("append").parquet(src)
    _df(spark, 10, 15).coalesce(1).write.mode("append").parquet(src)

    t = str(tmp_path / "tbl")

    def run(ckpt):
        stream = spark.readStream.schema(b1.schema).option(
            "maxFilesPerTrigger", 1
        ).parquet(src)
        stream_commitlog_sink(stream, t, str(tmp_path / ckpt))

    run("ckpt1")
    assert _ks(read_snapshot(spark, t)) == list(range(15))
    v = latest_version(spark, t)
    # Worst-case replay: the checkpoint is LOST, every epoch re-fires.
    # The epoch stamps in the manifests dedupe — no rows duplicate,
    # no new versions publish.
    run("ckpt2")
    assert _ks(read_snapshot(spark, t)) == list(range(15))
    assert latest_version(spark, t) == v


def test_read_changes_incremental(spark, tmp_path):
    from cds_etl_spark.sources.commitlog import read_changes

    t = str(tmp_path / "tbl")
    v0 = commit_append(_df(spark, 0, 10), t)
    v1 = commit_append(_df(spark, 10, 15), t)
    v2 = commit_append(_df(spark, 15, 18), t)
    assert _ks(read_changes(spark, t, v0, v1)) == list(range(10, 15))
    # Ranges compose: v0 -> v2 is both later commits.
    assert _ks(read_changes(spark, t, v0, v2)) == list(range(10, 18))
    with pytest.raises(ValueError):
        read_changes(spark, t, v1, v1)
    # Crossing an overwrite is not a file-set diff: refuse loudly.
    commit_overwrite(_df(spark, 100, 101), t)
    with pytest.raises(ValueError):
        read_changes(spark, t, v1, v2 + 1)


def test_commit_merge_atomic_upsert(spark, tmp_path):
    from pyspark.sql import functions as F

    from cds_etl_spark.sources.commitlog import commit_merge

    t = str(tmp_path / "tbl")
    base = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)],
        "k long, name string, v long",
    )
    commit_append(base, t)
    updates = spark.createDataFrame(
        [(2, "B", 99), (4, "d", 40)], "k long, name string, v long"
    )
    v = commit_merge(updates, t, ["k"])
    got = sorted(
        tuple(r) for r in read_snapshot(spark, t, v).collect()
    )
    assert got == [
        (1, "a", 10), (2, "B", 99), (3, "c", 30), (4, "d", 40),
    ]
    # Pre-merge snapshot untouched (time travel).
    before = sorted(
        tuple(r) for r in read_snapshot(spark, t, v - 1).collect()
    )
    assert before == [(1, "a", 10), (2, "b", 20), (3, "c", 30)]
    # Delete condition flows through.
    v2 = commit_merge(
        spark.createDataFrame([(3, "c", 0)], "k long, name string, v long"),
        t,
        ["k"],
        delete_condition=F.col("v") == 0,
    )
    assert sorted(
        r["k"] for r in read_snapshot(spark, t, v2).collect()
    ) == [1, 2, 4]
