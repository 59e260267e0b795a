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


def test_python_workers_import_the_package_outside_the_repo(tmp_path):
    """A process that imports the package only through ``sys.path``, run
    from another directory with no ``PYTHONPATH``, still runs a query
    whose Python workers import it (s3's ``applyInPandasWithState``)."""
    import os
    import subprocess
    import sys

    from .conftest import SF_DIR

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = (
        "import sys\n"
        f"sys.path.insert(0, {repo!r})\n"
        "from mirrulations_iceberg_spark.operators import collect_queries\n"
        "from mirrulations_iceberg_spark.session import get_spark\n"
        "spark = get_spark(shuffle_partitions=2)\n"
        "q, _ = collect_queries()\n"
        f"print('rows', q['s3_stream_sessions'](spark, {SF_DIR!r}).count())\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True,
        text=True,
        timeout=300,
        cwd=tmp_path,
        env=env,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "rows " in proc.stdout
