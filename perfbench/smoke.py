#!/usr/bin/env python3
"""Smoke test of the benchmark at sf0.001: one pass and a few deltas.

Checks that every metric the benchmark names is printed with its unit,
and that a corrupted expected hash is counted as a failed operation.
Takes one to three minutes on four cores::

    python3 perfbench/smoke.py
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
WORK = os.path.join(HERE, "_work")
#: Printed on their own ``metric`` lines, beside the JSON result.
EXTRA_UNITS = {
    "queries": {"failed_frac": "share", "peak_rss_mb": "MB", "op_p90_s": "s"},
    "ingest": {
        "failed_frac": "share", "peak_rss_mb": "MB", "op_p75_s": "s", "records_per_s": "1/s",
    },
}


def run(workload: str, trace: int, expected: str | None = None) -> tuple[dict, dict]:
    """One benchmark run; its JSON result and its ``metric`` lines."""
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "7",
        "--seconds", "0", "--trace", str(trace), "--scale", "0.001",
    ]
    if expected:
        cmd += ["--expected", expected]
    proc = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        sys.exit(f"smoke: {' '.join(cmd)} exited {proc.returncode}\n{proc.stderr[-3000:]}")
    lines = proc.stdout.strip().splitlines()
    printed = {}
    for ln in lines:
        if ln.startswith("metric "):
            _, name, value, unit, *_ = ln.split()
            printed[name] = (float(value), unit)
    return json.loads(lines[-1]), printed


def check(cond: bool, what: str) -> None:
    if not cond:
        sys.exit(f"smoke: FAILED {what}")
    print(f"smoke: ok {what}")


def main() -> int:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in bench["per_layer"]}

    os.makedirs(WORK, exist_ok=True)
    with open(os.path.join(HERE, "expected.json")) as fh:
        expected = json.load(fh)
    victim = sorted(expected["sf0.001"])[0]
    expected["sf0.001"][victim]["hash"] = "0" * 16
    with tempfile.NamedTemporaryFile("w", suffix=".json", dir=WORK, delete=False) as fh:
        json.dump(expected, fh)
    try:
        res, printed = run("queries", 0, expected=fh.name)
    finally:
        os.unlink(fh.name)
    units = {k: v["unit"] for k, v in res["metrics"].items()}
    check(units == e2e, "queries: the JSON result holds every end-to-end metric with its unit")
    check(all(printed.get(k, (0, None))[1] == u for k, u in {**e2e, **EXTRA_UNITS["queries"]}.items()),
          "queries: every end-to-end metric is printed with its unit")
    check(res["failed"] == 1 and not res["correct"], f"queries: the corrupted {victim} hash fails")
    check(printed["failed_frac"][0] == 1 / res["attempted"], "queries: failed_frac counts it")

    res, printed = run("ingest", 0)
    check(res["correct"] and res["failed"] == 0, "ingest: every output check passes")
    check(all(printed.get(k, (0, None))[1] == u for k, u in {**e2e, **EXTRA_UNITS["ingest"]}.items()),
          "ingest: every end-to-end metric is printed with its unit")

    res, printed = run("ingest", 1)
    units = {k: v["unit"] for k, v in res["metrics"].items()}
    check(units == layers, "ingest traced: the JSON result holds every per-layer metric")
    check(all(printed[k][1] == u for k, u in layers.items()),
          "ingest traced: every per-layer metric is printed with its unit")
    check(res["metrics"]["streaming.batches"]["value"] > 0, "ingest traced: streaming progress read")
    return 0


if __name__ == "__main__":
    sys.exit(main())
