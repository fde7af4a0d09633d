from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bi_gcp_stitch_repl_spark.session import get_spark  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", extra_conf={"spark.ui.enabled": "false"})
    yield s


@pytest.fixture(scope="session")
def driver_rows():
    """``driver_rows(n, fn)``: ``fn()`` with ``dispatch.DRIVER_ROWS`` set
    to ``n`` — 0 sends every operator down its distributed path — and the
    bound restored afterwards. An operator picks its path when called, so
    the frame ``fn`` returns keeps the path it was built with."""
    from bi_gcp_stitch_repl_spark.functions import dispatch

    def at(n, fn):
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(dispatch, "DRIVER_ROWS", n)
            return fn()

    return at


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_ORACLE}/{t}.parquet')"
        )
    return con
