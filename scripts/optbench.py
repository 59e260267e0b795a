#!/usr/bin/env python
"""Optimization harness: isolated per-query timing + plan capture.

For each named query (or a family prefix with ``--family x``):

* run it ``--n`` times (default 3) into the noop sink in ONE fresh
  session, labelled via ``setJobDescription`` so the UI/eventlog maps
  jobs to queries;
* print per-run seconds and the min (the number PLANS/OPTIMIZATION_r16
  cite);
* with ``--plan <tag>``, write ``plans/r17/<query>_<tag>.txt`` with the
  ``explain("formatted")`` output of the returned frame, followed by
  the plan of every ``collect()``, ``count()`` and parquet write the
  query ran while building it (fit collects, the bounded result a
  materializing operator collects before handing back a local frame,
  and a pipeline's table writes and landed-row counts).

This never touches BENCH_DETAIL.json — it is a measurement sidecar,
not the bench.

Usage: python scripts/optbench.py [--n 3] [--plan before|after]
       [--family x] [--sf /root/testdata/sf0.1] [query ...]
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from mirrulations_iceberg_spark.operators import collect_queries  # noqa: E402
from mirrulations_iceberg_spark.session import get_spark  # noqa: E402


def main() -> int:
    argv = sys.argv[1:]

    def _opt(name: str, default=None):
        if name in argv:
            i = argv.index(name)
            v = argv[i + 1]
            del argv[i : i + 2]
            return v
        return default

    n = int(_opt("--n", "3"))
    plan_tag = _opt("--plan")
    family = _opt("--family")
    sf_dir = _opt("--sf", os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    jobs = "--jobs" in argv
    if jobs:
        argv.remove("--jobs")
    names = argv

    queries, _ = collect_queries()
    if family:
        names = sorted(q for q in queries if q.startswith(family))
    missing = [q for q in names if q not in queries]
    if missing:
        print(f"unknown queries: {missing}", file=sys.stderr)
        return 2

    spark = get_spark(app_name="optbench")
    # Warm-up: JVM/codegen startup is not billed to the first query.
    queries["a1_count_star"](spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()

    plans_dir = os.path.join(REPO, "plans", "r17")
    os.makedirs(plans_dir, exist_ok=True)

    def _dump_jobs(since_job: int, label: str) -> None:
        """Per-job wall-clock since job id ``since_job`` via the UI REST
        API (the x11_metrics surface) — where a query's seconds go."""
        import json as _json
        import urllib.request

        sc = spark.sparkContext
        base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        with urllib.request.urlopen(base + "/jobs?status=succeeded") as r:
            rows = _json.loads(r.read())
        from datetime import datetime

        def _ts(s):
            return datetime.strptime(s[:23], "%Y-%m-%dT%H:%M:%S.%f")

        rows = sorted(
            (j for j in rows if j["jobId"] >= since_job),
            key=lambda j: j["jobId"],
        )
        print(f"-- jobs for {label} --")
        for j in rows:
            dur = (
                _ts(j["completionTime"]) - _ts(j["submissionTime"])
            ).total_seconds()
            desc = (j.get("description") or j["name"])[:110]
            print(
                f"  job {j['jobId']:>4} {dur:7.3f}s stages={len(j['stageIds'])} {desc}"
            )

    for name in names:
        fn = queries[name]
        times = []
        last_job_before = -1
        for i in range(n):
            if jobs and i == n - 1:
                import json as _json
                import urllib.request

                sc = spark.sparkContext
                base = (
                    f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
                )
                try:
                    with urllib.request.urlopen(base + "/jobs") as r:
                        all_jobs = _json.loads(r.read())
                    last_job_before = (
                        max((j["jobId"] for j in all_jobs), default=-1) + 1
                    )
                except Exception:
                    last_job_before = 0
            spark.sparkContext.setJobDescription(f"optbench {name} run{i}")
            t0 = time.time()
            df = fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            times.append(round(time.time() - t0, 3))
            spark.catalog.clearCache()
            spark.sparkContext.setJobDescription(None)
        if plan_tag:
            def _explain(d):
                return d._sc._jvm.PythonSQLUtils.explainString(
                    d._jdf.queryExecution(), "formatted"
                )

            actions = []
            frame_cls = type(spark.range(0))  # the concrete DataFrame class
            writer_cls = type(spark.range(0).write)
            hooks = [
                (frame_cls, "collect", "collect", lambda d: d),
                (frame_cls, "count", "count", lambda d: d),
                (writer_cls, "parquet", "write", lambda w: w._df),
                (writer_cls, "save", "write", lambda w: w._df),
            ]
            real = [getattr(cls, meth) for cls, meth, _, _ in hooks]

            def _hook(orig, kind, frame):
                def run(self, *a, **kw):
                    actions.append((kind, _explain(frame(self))))
                    return orig(self, *a, **kw)

                return run

            for (cls, meth, kind, frame), orig in zip(hooks, real):
                setattr(cls, meth, _hook(orig, kind, frame))
            try:
                df = fn(spark, sf_dir)
            finally:
                for (cls, meth, _, _), orig in zip(hooks, real):
                    setattr(cls, meth, orig)
            txt = _explain(df) + "".join(
                f"\n== {kind} {i} ==\n{t}" for i, (kind, t) in enumerate(actions)
            )
            path = os.path.join(plans_dir, f"{name}_{plan_tag}.txt")
            with open(path, "w") as fh:
                fh.write(txt)
            spark.catalog.clearCache()
        print(
            f"optbench {name} min={min(times)} runs={times}",
            flush=True,
        )
        if jobs:
            _dump_jobs(last_job_before, f"{name} run{n - 1}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
