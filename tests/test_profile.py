"""The measurement kernel (tajo_spark/profile.py): job counting,
block release on success and failure, and a warm-up that records
failures instead of raising."""

from __future__ import annotations

import pytest

from tajo_spark import profile
from tests.conftest import persisted_rdd_ids


def test_run_counts_the_jobs_of_its_build(spark):
    got = profile.run(spark, lambda: spark.range(10))
    assert got.jobs == 1
    assert got.wall_s > 0


def test_run_releases_checkpoints_when_the_build_raises(spark):
    before = persisted_rdd_ids(spark)

    def build():
        spark.range(10).localCheckpoint()
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError, match="build failed"):
        profile.run(spark, build)
    assert persisted_rdd_ids(spark) - before == set()


def test_warm_returns_errors_instead_of_raising(spark, monkeypatch):
    monkeypatch.setattr(profile, "SETTLE_S", 0)

    def bad():
        raise ValueError("no such table")

    errors = profile.warm(
        spark, {"ok": lambda: spark.range(5), "bad": bad}, passes=1
    )
    assert errors == {"bad": "no such table"}
