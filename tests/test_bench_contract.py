"""Driver-contract shape of bench.py — the driver parses ONE JSON line
from stdout; this pins the schema without paying a full sf0.1 run by
benching a five-query subset of the sf0.001 fixtures through the real
main(). Every registered query is executed and oracle-checked by
test_oracle_parity.py, so the subset loses no query coverage."""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


import pytest

from .conftest import SF_DIR

SHUFFLE_ARGS = [(), ("--shuffle-order", "7")]

#: The benched queries: the warm-up query bench.main() runs first, one
#: streaming query, and an order seed 7 really shuffles.
BENCH_SUBSET = (
    "a1_count_star",
    "a2_groupby_count",
    "j1_broadcast_star_join",
    "s1_stream_windowed_counts",
    "w2_running_sum",
)

#: bench.main() over BENCH_SUBSET: the script replaces bench's
#: collect_queries with the subset before main() looks it up.
_RUN_SUBSET = f"""
import sys
sys.argv = ["bench.py", *sys.argv[1:]]
import bench
queries, oracles = bench.collect_queries()
bench.collect_queries = lambda: (
    {{k: queries[k] for k in {BENCH_SUBSET!r}}},
    oracles,
)
bench.main()
"""


@pytest.fixture(scope="module")
def bench_runs(tmp_path_factory):
    """Both bench sweeps over BENCH_SUBSET, started together and run
    concurrently. Each sweep is one single-session process, mostly
    session start-up at sf0.001. The runs share nothing mutable: each
    writes its own detail file, and no benched query writes a table.
    Yields ``shuffle_args -> (Popen, output dir)``."""
    runs = {}
    for args in SHUFFLE_ARGS:
        out_dir = tmp_path_factory.mktemp("bench")
        env = dict(os.environ)
        env["SPARK_GRAFT_SF_DIR"] = SF_DIR
        env["SPARK_GRAFT_CPUS"] = "8"
        env["SPARK_GRAFT_DETAIL_PATH"] = str(out_dir / "detail.json")
        # files, not pipes: an undrained pipe would stall the run that
        # is not being waited on once its buffer fills
        with open(out_dir / "stdout", "w") as out, open(
            out_dir / "stderr", "w"
        ) as err:
            proc = subprocess.Popen(
                [sys.executable, "-c", _RUN_SUBSET, *args],
                stdout=out,
                stderr=err,
                text=True,
                cwd=REPO,
                env=env,
            )
        runs[args] = (proc, out_dir)
    yield runs
    for proc, _ in runs.values():
        if proc.poll() is None:
            proc.kill()
            proc.wait()


@pytest.mark.parametrize("shuffle_args", SHUFFLE_ARGS)
def test_bench_emits_one_wellformed_json_line(bench_runs, shuffle_args):
    proc, out_dir = bench_runs[shuffle_args]
    try:
        proc.wait(timeout=900)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise
    stdout = (out_dir / "stdout").read_text()
    stderr = (out_dir / "stderr").read_text()
    detail_path = str(out_dir / "detail.json")
    assert proc.returncode == 0, stderr[-2000:]
    lines = [ln for ln in stdout.splitlines() if ln.strip()]
    # progress lines precede the ONE machine-readable line; the
    # driver parses the LAST stdout line as JSON
    assert lines, "no stdout"
    d = json.loads(lines[-1])
    for ln in lines[:-1]:
        assert ln.startswith("bench."), f"unexpected stdout line: {ln!r}"
    for key in ("metric", "value", "unit", "queries", "sf"):
        assert key in d, key
    assert d["unit"] == "sec"
    assert isinstance(d["value"], (int, float)) and d["value"] > 0
    assert isinstance(d["queries"], dict) and d["queries"]
    # the detail sidecar must cover every benched query (written to
    # the overridden path — the committed sf0.1 prior stays untouched)
    detail = json.load(open(detail_path))
    q = BENCH_SUBSET
    assert set(detail["queries"]) == set(q)
    assert detail["failed"] == []
    # shuffle mode (VERDICT r15 item #2): order is recorded in both
    # artifacts, the seed is deterministic, and positions cover every
    # query so position-effect regressions stay computable.
    if shuffle_args:
        assert d["order"] == "shuffled:7"
        assert detail["order"] == "shuffled:7"
        assert set(detail["positions"]) == set(q)
        assert sorted(detail["positions"].values()) == list(range(len(q)))
        # the sweep really was shuffled: ordering queries by recorded
        # position must differ from alphabetical. (JSON key order can't
        # carry this — the detail is dumped with sort_keys=True.)
        by_position = sorted(detail["positions"], key=detail["positions"].get)
        assert by_position != sorted(detail["positions"])
    else:
        assert d["order"] == "sorted"
        assert detail["order"] == "sorted"
        assert "positions" not in detail
