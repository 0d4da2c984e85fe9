"""The session factory's settings that change behaviour visible to a
caller."""

from __future__ import annotations

import pytest
from pyspark.errors import utils as error_utils
from pyspark.sql import functions as F

from tests.conftest import py4j_round_trips


def _error_messages(spark) -> list[str]:
    df = spark.range(3)
    out = []
    for build in (
        lambda: df.select(F.raise_error(F.lit("boom"))),
        lambda: df.select(F.assert_true(F.col("id") < 1)),
        lambda: df.select(F.col("nope")),
    ):
        with pytest.raises(Exception) as err:
            build().collect()
        out.append(str(err.value))
    return out


def test_call_site_capture_is_off_and_errors_read_the_same(spark, monkeypatch):
    # with ANSI off no error carries the DataFrame context the capture
    # records, so turning it off loses nothing and saves its py4j
    # round trips on every Column and DataFrame call
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert not error_utils.is_debugging_enabled()
    with py4j_round_trips(spark) as off_trips:
        F.col("a") + F.lit(1)
    off = _error_messages(spark)

    monkeypatch.setattr(error_utils, "_enable_debugging_cache", True)
    with py4j_round_trips(spark) as on_trips:
        F.col("a") + F.lit(1)
    assert _error_messages(spark) == off
    assert off_trips.count < on_trips.count

    assert off[0].startswith("[USER_RAISED_EXCEPTION] boom")
    assert off[1].startswith("[USER_RAISED_EXCEPTION] '(id < 1)' is not true!")
    assert off[2].startswith("[UNRESOLVED_COLUMN.WITH_SUGGESTION]")
