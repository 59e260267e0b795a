"""``session.run_concurrently``: independent actions at once, each
job labelled as its caller's, every error raised after all finish."""

from __future__ import annotations

import time

import pytest

from mirrulations_iceberg_spark.session import run_concurrently

from .conftest import jobs_during


def test_concurrent_actions_count_under_callers_job_group(spark):
    def actions():
        return (lambda: spark.range(10).count(), lambda: spark.range(5).count())

    _, n_serial = jobs_during(spark, lambda: [a() for a in actions()])
    res, n_jobs = jobs_during(spark, lambda: run_concurrently(spark, *actions()))
    assert res == [10, 5]
    assert n_jobs == n_serial > 0


def test_concurrent_actions_raise_first_error_after_all_finish(spark):
    finished = []

    def slow_failure():
        time.sleep(0.5)
        raise ValueError("first")

    def slow_success():
        time.sleep(0.5)
        finished.append(spark.range(3).count())

    def fast_failure():
        raise KeyError("second")

    with pytest.raises(ValueError, match="first"):
        run_concurrently(spark, slow_failure, slow_success, fast_failure)
    assert finished == [3]
