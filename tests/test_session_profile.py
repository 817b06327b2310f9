"""get_spark profile alignment on a REUSED in-process session.

getOrCreate() ignores builder configs when a SparkSession already
exists; ADVICE r5 flagged that a stale _LATENCY_MARKER would then keep
the wrong runtime profile forever. get_spark now detects the mismatch
and re-applies the requested profile's runtime confs on the live
session.
"""

from cds_etl_spark.session import default_parallelism, get_spark


def test_profile_realigned_on_reused_session(spark):
    # The shared fixture session was built with the plain profile.
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"

    # Request the sub-second latency profile on the SAME live session:
    # builder configs are ignored, so only the re-alignment path can
    # make these confs appear.
    s2 = get_spark(local_latency=True, data_bytes=1)
    assert s2 is spark or s2._jsparkSession is spark._jsparkSession
    assert s2.conf.get("spark.cds_etl.local_latency") == "true"
    assert s2.conf.get("spark.sql.shuffle.partitions") == "4"
    assert s2.conf.get("spark.sql.adaptive.enabled") == "false"

    # Request the large-data latency profile: scale runtime confs.
    s3 = get_spark(local_latency=True, data_bytes=1 << 40)
    assert s3.conf.get("spark.sql.adaptive.enabled") == "true"
    assert s3.conf.get("spark.sql.files.maxPartitionBytes") == "134217728"
    assert s3.conf.get("spark.sql.shuffle.partitions") == str(
        default_parallelism()
    )

    # And back to the plain profile (also restores the fixture's state
    # for every later test in the session). It sizes shuffles to the
    # core count, which may equal the latency profile's 4, so a conf
    # only the latency/scale profiles set shows the switch as well.
    s4 = get_spark()
    assert s4.conf.get("spark.sql.adaptive.enabled") == "true"
    assert s4.conf.get("spark.sql.shuffle.partitions") == str(default_parallelism())
    assert s4.conf.get("spark.sql.inMemoryColumnarStorage.compressed") == "true"
    assert s4.conf.get("spark.cds_etl.local_latency") == "false"


def test_huge_data_drops_tmpfs_statics():
    """Above LOCAL_LATENCY_HUGE_DATA_BYTES the builder must not request
    tmpfs/no-compression shuffle statics (the sf100 OOM lesson): only
    the FAIR scheduler survives. Static confs are builder-time-only, so
    assert on the profile selection logic, not a live session."""
    from cds_etl_spark import session as S

    assert S.LOCAL_LATENCY_HUGE_DATA_BYTES > S.LOCAL_LATENCY_LARGE_DATA_BYTES
    # The statics dict the builder would apply:
    huge = True
    statics = (
        {"spark.scheduler.mode": S.LOCAL_LATENCY_STATIC_CONFS["spark.scheduler.mode"]}
        if huge
        else S.LOCAL_LATENCY_STATIC_CONFS
    )
    assert statics == {"spark.scheduler.mode": "FAIR"}
    assert "spark.local.dir" in S.LOCAL_LATENCY_STATIC_CONFS  # still used below threshold
