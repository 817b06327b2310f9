import datetime
import math
import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cds_etl_spark.catalog import TABLES  # noqa: E402
from cds_etl_spark.session import get_spark, stop_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("cds_etl_spark_tests", cores=int(os.environ.get("SPARK_GRAFT_CPUS", "8")))
    yield s
    stop_spark(s)


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def duck(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    yield con
    con.close()


def _canon_value(v):
    """Canonicalize one cell for cross-engine comparison."""
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # Queries pre-round floats; -0.0 folds to 0.0.
        return v + 0.0
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_canon_value(x) for x in v)
    return v


def canon_rows(columns, rows):
    """Sort columns by name (as the driver does), canonicalize values,
    and sort rows to make an order-insensitive multiset."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [tuple(_canon_value(r[i]) for i in order) for r in rows]
    out.sort(key=lambda t: tuple((x is None, str(x)) for x in t))
    return [columns[i] for i in order], out


def assert_frames_match(spark_df, duck_rel, name=""):
    s_cols = spark_df.columns
    s_rows = [tuple(r) for r in spark_df.collect()]
    d_cols = [d[0] for d in duck_rel.description]
    d_rows = duck_rel.fetchall()

    assert sorted(s_cols) == sorted(d_cols), (
        f"{name}: column names differ: spark={sorted(s_cols)} duckdb={sorted(d_cols)}"
    )
    assert len(s_rows) == len(d_rows), (
        f"{name}: row count differs: spark={len(s_rows)} duckdb={len(d_rows)}"
    )
    _, cs = canon_rows(s_cols, s_rows)
    _, cd = canon_rows(d_cols, d_rows)
    mismatches = [(a, b) for a, b in zip(cs, cd) if a != b]
    assert not mismatches, (
        f"{name}: {len(mismatches)}/{len(cs)} rows differ; first 5: {mismatches[:5]}"
    )
