#!/usr/bin/env python3
"""Benchmark of the engine's public query surface, end to end and per layer.

One closed-loop client (this process) calls one operation at a time on
``local[<cores>]``. Two workloads:

* ``queries`` -- ``collect_queries()`` entries over generated sf0.01
  tables: sub-second relational, join and window queries, where
  per-query fixed cost (planning, job scheduling, scans) dominates, and
  curation queries that do eager work inside the call
  (connected-components rounds, Python workers, streaming state);
* ``ingest`` -- ``etl.pipeline.run_pipeline`` over a docket JSON tree,
  then delta ops: a new docket replica lands on disk, is drained by
  ``streaming.incremental.stream_comments`` and the landed table is
  re-queried with ``etl.workload.q2_count_by_agency``. A delta op's
  latency is its freshness: from the replica on disk to a verified count.

A run starts a session and makes one warm-up pass (together:
``setup_s``). The warm-up pass collects each query's rows, and they are
checked with the clock stopped; an ingest op's checks are cheap
comparisons made in the op. Then seeded-order passes run until ``--seconds`` have elapsed
(at least one). A pass takes longer than the 1 s that ``BENCHMARK.json``
gives, so a run measures one pass: a fixed amount of work, where a count
of passes that followed the machine's speed made the figures bimodal. The seed sets each pass's query order and the docket-tree
fixture; the tables come from ``gen.py`` with a fixed seed so their
expected oracle hashes hold.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``,
or the per-layer metrics with ``--trace 1``. Per-layer figures are per
timed pass and come from Spark's status REST API and
``StreamingQuery.recentProgress``, read after the run; each call the
benchmark makes is labelled with the job group
``<workload>:<op>:call|sink``. Layers a workload does not call
read 0. Which end-to-end metric each layer should move:

* ``session.start_s`` -> ``setup_s``, both workloads;
* ``tables.*``, ``operators.{relational,joins,windows}.*`` ->
  ``op_p50_s`` on ``queries``;
* ``operators.{text,dedup,similarity,multimodal,streamq,etl}.*`` ->
  ``wall_s`` on ``queries``;
* ``etl.convert_*``, ``etl.write_amp`` -> ``wall_s`` on ``ingest``;
* ``etl.workload.query_s``, ``streaming.*`` -> ``op_p50_s`` on ``ingest``;
* ``spark.*`` -> ``wall_s`` where the saving lands; ``spark.gc_s`` also
  ``peak_rss_mb``.

Usage::

    python3 perfbench/run.py --workload queries --seed 1 --seconds 1 --trace 0
    python3 perfbench/run.py --overhead --workload ingest --seed 1 --seconds 1
    python3 perfbench/run.py --write-expected   # rebuild expected.json (DuckDB)
    python3 perfbench/smoke.py                  # sf0.001 smoke test
"""

from __future__ import annotations

import argparse
import calendar
import hashlib
import json
import os
import random
import resource
import shutil
import subprocess
import sys
import tempfile
import time
import traceback
import urllib.request
from datetime import datetime

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")
sys.path[:0] = [ROOT, HERE]

import gen  # noqa: E402

try:
    from mirrulations_iceberg_spark.etl import fixtures
    from mirrulations_iceberg_spark.operators import collect_queries
    from mirrulations_iceberg_spark.tables import TABLE_NAMES
    from mirrulations_iceberg_spark.testing import value_hash
except ImportError as exc:  # run outside a checkout of the package
    sys.exit(f"perfbench: cannot import the package from {ROOT}: {exc}")

SCALE = 0.01
#: The ``queries`` workload: the analyst's sub-second relational, join
#: and window queries, where per-query fixed cost (planning, job
#: scheduling, scans) dominates, and curation queries that do eager work
#: inside the call (connected-components rounds, Python workers,
#: streaming state). One query per operator module at least; the Lloyd
#: fits (d13, x16, x18) were left out to keep a run short.
QUERIES = (
    "a2_groupby_count", "a5_numeric_stats", "a13_pivot", "j1_broadcast_star_join",
    "j4_fact_fact_join", "j9_bloom_pruned_join", "w2_running_sum", "w5_sessionize",
    "e9_refresh_pipeline", "d8_dedup_components", "x3_label_centroid_sim",
    "t6_winnow_fingerprints", "mm6_phash_neardup", "s4_stream_dedup",
)
WORKLOADS = ("queries", "ingest")
#: Docket-tree replicas in the batch convert per unit of ``--scale`` (61
#: JSON files each, 2 of them corrupt): 10 replicas at the default scale.
REPLICAS_PER_SF = 1000
#: Delta ops after the convert in the warm-up pass and in each timed pass;
#: the first few deltas in a session run slower while the JVM warms up.
WARM_UP_DELTAS = 2
DELTAS_PER_PASS = 6
EXPECTED = os.path.join(HERE, "expected.json")
#: Driver JVM heap. A smaller heap made the query passes slower and less
#: steady with more GC; the host has 15 GiB.
HEAP = "3g"

E2E_UNITS = {"setup_s": "s", "wall_s": "s", "op_p50_s": "s", "cpu_s": "s"}
OPERATOR_MODULES = (
    "relational", "joins", "windows", "text", "dedup", "similarity", "multimodal",
    "streamq", "etl",
)
OP_UNITS = {
    "call_s": "s", "sink_s": "s", "jobs": "count", "task_s": "s", "shuffle_mb": "MB",
    "spill_mb": "MB", "gap_s": "s", "failed": "count",
}
LAYER_UNITS = {
    "session.start_s": "s",
    "tables.input_mb": "MB",
    "tables.scan_task_s": "s",
    **{f"operators.{m}.{k}": u for m in OPERATOR_MODULES for k, u in OP_UNITS.items()},
    "etl.convert_s": "s",
    "etl.convert_jobs": "count",
    "etl.convert_task_s": "s",
    "etl.write_amp": "ratio",
    "etl.workload.query_s": "s",
    "streaming.drain_s": "s",
    "streaming.start_s": "s",
    "streaming.list_s": "s",
    "streaming.plan_s": "s",
    "streaming.add_batch_s": "s",
    "streaming.commit_s": "s",
    "streaming.batches": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_s": "s",
    "spark.gc_s": "s",
    "spark.gap_share": "share",
    "trace.wall_s": "s",
}
MB = 1024 * 1024


def quantile(xs: list[float], q: float) -> float:
    """Linear-interpolated quantile of a non-empty sample."""
    s = sorted(xs)
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def data_dir(sf: float) -> str:
    """Generated tables for ``sf``, built once per checkout and keyed by
    the generator's source so a changed generator rebuilds."""
    with open(gen.__file__, "rb") as fh:
        tag = hashlib.sha1(fh.read()).hexdigest()[:10]
    out = os.path.join(WORK, f"data-sf{sf}-{tag}")
    if not os.path.isdir(out):
        os.makedirs(WORK, exist_ok=True)
        tmp = tempfile.mkdtemp(prefix="gen-", dir=WORK)
        gen.write_tables(tmp, sf)
        try:
            os.rename(tmp, out)
        except OSError:  # another run built it first
            shutil.rmtree(tmp, ignore_errors=True)
    return out


def oracle_expectations(sf: float) -> dict[str, dict]:
    import duckdb

    _, oracles = collect_queries()
    con = duckdb.connect()
    d = data_dir(sf)
    for t in TABLE_NAMES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{d}/{t}.parquet')")
    out = {}
    for name in sorted(QUERIES):
        rel = con.sql(oracles[name])
        cols, rows = list(rel.columns), rel.fetchall()
        out[name] = {"cols": sorted(cols), "rows": len(rows), "hash": value_hash(cols, rows)}
    return out


def write_expected() -> None:
    doc = {f"sf{sf}": oracle_expectations(sf) for sf in (SCALE, 0.001)}
    with open(EXPECTED, "w") as fh:
        json.dump(doc, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(f"wrote {EXPECTED}")


def tree_bytes(root: str, suffix: str) -> int:
    return sum(
        os.path.getsize(os.path.join(p, f))
        for p, _, fs in os.walk(root) for f in fs if f.endswith(suffix)
    )


class Run:
    """One benchmark run: a session, its op records and its checks.

    An op record holds ``t0`` (start), ``t1`` (end of the call) and
    ``t2`` (end of the sink), the op's ``layer`` and whether it ``ok``.
    """

    def __init__(self, args, run_dir: str):
        self.args = args
        self.workload = args.workload
        self.trace = bool(args.trace)
        self.run_dir = run_dir
        self.rng = random.Random(args.seed)
        self.records: list[dict] = []  # timed ops; for ingest the delta ops
        self.converts: list[dict] = []  # timed ingest converts
        self.streams: list = []  # timed delta-op StreamingQuery handles
        self.passes: list[float] = []  # timed pass walls
        self.pass_cpu: list[float] = []  # timed pass CPU seconds
        self.timed_wall = 0.0
        self.attempted = 0
        self.failed = 0
        self.setup_s = 0.0
        self.info: dict[str, object] = {}
        self.replicas = max(1, round(REPLICAS_PER_SF * args.scale))

    # -- session -------------------------------------------------------
    def start(self) -> None:
        from mirrulations_iceberg_spark.session import get_spark

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(self.run_dir, "local"),
            "spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-XX:-UsePerfData -Djava.io.tmpdir={self.run_dir}/tmp"
                f" -Dderby.system.home={self.run_dir}"
            ),
        }
        if self.trace:  # the status REST API serves the trace
            conf.update({"spark.ui.retainedJobs": "100000", "spark.ui.retainedStages": "100000"})
        else:
            conf["spark.ui.enabled"] = "false"
        t0 = time.time()
        self.spark = get_spark(app_name=f"perfbench-{self.workload}", extra_conf=conf)
        self.session_s = time.time() - t0
        self.setup_s += self.session_s
        self.sc = self.spark.sparkContext
        self.jvm_pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()

    def stop(self) -> None:
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits on EOF
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()

    def group(self, op: str, phase: str) -> None:
        if self.trace:
            self.sc.setJobGroup(f"{self.workload}:{op}:{phase}", f"{op} {phase}")

    def peak_rss_mb(self) -> float:
        with open(f"/proc/{self.jvm_pid}/status") as fh:
            hwm_kb = next(int(ln.split()[1]) for ln in fh if ln.startswith("VmHWM:"))
        py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        return (hwm_kb + py_kb) / 1024

    def cpu_s(self) -> float:
        """CPU seconds used so far by the driver JVM and this process;
        unlike wall time, they leave out time the CPUs were taken away."""
        with open(f"/proc/{self.jvm_pid}/stat") as fh:
            utime, stime = fh.read().rsplit(")", 1)[1].split()[11:13]
        t = os.times()
        return (int(utime) + int(stime)) / os.sysconf("SC_CLK_TCK") + t.user + t.system

    def fail(self, what: str) -> None:
        self.failed += 1
        print(f"perfbench: FAILED {what}", file=sys.stderr)

    def timed_passes(self, one_pass) -> None:
        """Whole passes until ``--seconds`` have elapsed (at least one)."""
        start = time.time()
        while not self.passes or time.time() - start < self.args.seconds:
            t0, cpu0 = time.time(), self.cpu_s()
            one_pass()
            self.passes.append(time.time() - t0)
            self.pass_cpu.append(self.cpu_s() - cpu0)
        self.timed_wall = time.time() - start

    # -- query workloads ------------------------------------------------
    def query_op(self, name: str, fn, sf_dir: str, check=None) -> dict:
        """One query: the call (plan building plus any eager jobs), then
        the sink: a noop write or, when the rows are to be checked,
        ``collect()``. ``check`` gets the rows after the clock has stopped."""
        self.attempted += 1
        rec = {"op": name, "layer": fn.__module__.split(".", 1)[1], "ok": False}
        rec["t0"] = time.time()
        try:
            self.group(name, "call")
            df = fn(self.spark, sf_dir)
            rec["t1"] = time.time()
            self.group(name, "sink")
            if check is None:
                df.write.format("noop").mode("overwrite").save()
                rec["ok"] = True
            else:
                rows = [tuple(r) for r in df.collect()]
                rec["t2"] = time.time()
                rec["ok"] = check(df.columns, rows)
        except Exception:  # noqa: BLE001 -- a failed op is counted, the run goes on
            traceback.print_exc()
        rec.setdefault("t1", time.time())
        rec.setdefault("t2", time.time())
        if not rec["ok"]:
            self.fail(name)
        self.spark.catalog.clearCache()
        return rec

    def run_queries(self) -> None:
        queries, _ = collect_queries()
        names = list(QUERIES)
        sf_dir = data_dir(self.args.scale)
        with open(self.args.expected) as fh:
            expected = json.load(fh).get(f"sf{self.args.scale}", {})

        def check(name: str):
            """Row count plus order-insensitive value hash vs the oracle's."""
            def run(cols: list[str], rows: list[tuple]) -> bool:
                got = {"cols": sorted(cols), "rows": len(rows), "hash": value_hash(cols, rows)}
                if got != expected.get(name):
                    print(f"perfbench: check {name}: got {got} want {expected.get(name)}",
                          file=sys.stderr)
                return got == expected.get(name)
            return run

        def one_pass(warm_up: bool = False) -> None:
            order = names[:]
            self.rng.shuffle(order)
            for name in order:
                rec = self.query_op(name, queries[name], sf_dir, check(name) if warm_up else None)
                print(f"op {name} {rec['t1'] - rec['t0']:.3f} {rec['t2'] - rec['t1']:.3f}")
                if warm_up:
                    self.setup_s += rec["t2"] - rec["t0"]
                else:
                    self.records.append(rec)

        one_pass(warm_up=True)
        self.timed_passes(one_pass)

    # -- ingest -----------------------------------------------------------
    def write_tree(self) -> None:
        """The batch-convert input: ``self.replicas`` docket replicas."""
        self.tree = os.path.join(self.run_dir, "tree")
        for r in range(self.replicas):
            fixtures.write_docket_tree(self.tree, seed=self.args.seed, replica=r)

    def run_ingest(self) -> None:
        from mirrulations_iceberg_spark.etl.pipeline import run_pipeline
        from mirrulations_iceberg_spark.etl.workload import q2_count_by_agency
        from mirrulations_iceberg_spark.streaming.incremental import stream_comments

        d, seed = self.run_dir, self.args.seed
        stream_root = os.path.join(d, "stream")
        landed, ckpt = os.path.join(d, "landed"), os.path.join(d, "ckpt")
        json_bytes = tree_bytes(self.tree, ".json")
        per = fixtures.expected_counts()
        want_counts = {
            "comments": per["comments"] * self.replicas,
            "documents": per["documents"] * self.replicas,
            "docket_info": per["dockets"] * self.replicas,
        }
        want_quarantined = per["corrupt"] * self.replicas
        self.info["records"] = sum(want_counts.values()) + want_quarantined
        state = {"replicas": 0, "converts": 0}

        def convert(timed: bool) -> dict:
            self.attempted += 1
            out = os.path.join(d, f"out{state['converts']}")
            state["converts"] += 1
            rec = {"op": "convert", "layer": "etl", "ok": False, "t0": time.time()}
            res = None
            try:
                self.group("convert", "call")
                res = run_pipeline(self.spark, self.tree, out)
                rec["ok"] = True
            except Exception:  # noqa: BLE001
                traceback.print_exc()
            rec["t2"] = rec["t1"] = time.time()
            got = res and (res.counts, res.quarantined)
            if got != (want_counts, want_quarantined):
                rec["ok"] = False
                self.fail(f"convert counts: got {got} want {(want_counts, want_quarantined)}")
            rec["write_amp"] = tree_bytes(out, ".parquet") / json_bytes
            shutil.rmtree(out, ignore_errors=True)
            if timed:
                self.converts.append(rec)
            print(f"op convert {rec['t2'] - rec['t0']:.3f} 0")
            return rec

        def delta(timed: bool) -> dict:
            """Freshness: from a new replica on disk to a verified refresh."""
            self.attempted += 1
            fixtures.write_docket_tree(stream_root, seed=seed, replica=state["replicas"])
            state["replicas"] += 1
            rec = {"op": "delta", "layer": "streaming", "ok": False, "t0": time.time()}
            rows = None
            try:
                self.group("delta", "call")
                q = stream_comments(self.spark, stream_root, landed, ckpt)
                q.awaitTermination()
                rec["t1"] = time.time()
                self.group("refresh", "sink")
                rows = q2_count_by_agency(self.spark.read.parquet(landed)).collect()
                rec["ok"] = True
                if timed:
                    self.streams.append(q)
            except Exception:  # noqa: BLE001
                traceback.print_exc()
            rec.setdefault("t1", time.time())
            rec["t2"] = time.time()
            k = state["replicas"]
            want = {a: c * k for a, c in zip(fixtures.AGENCIES, fixtures.COMMENT_COUNTS)}
            got = rows and {r["agencyId"]: r["cnt"] for r in rows}
            if got != want:
                rec["ok"] = False
                self.fail(f"delta refresh: got {got} want {want}")
            if timed:
                self.records.append(rec)
            print(f"op {rec['op']} {rec['t1'] - rec['t0']:.3f} {rec['t2'] - rec['t1']:.3f}")
            return rec

        for rec in (convert(False), *(delta(False) for _ in range(WARM_UP_DELTAS))):
            self.setup_s += rec["t2"] - rec["t0"]

        def one_pass() -> None:
            convert(True)
            for _ in range(DELTAS_PER_PASS):
                delta(True)

        self.timed_passes(one_pass)
        self.info["write_amp"] = self.converts[0]["write_amp"]

    # -- metrics ----------------------------------------------------------
    def end_to_end(self) -> dict[str, float]:
        lat = [r["t2"] - r["t0"] for r in self.records]
        return {
            "setup_s": self.setup_s,
            "wall_s": quantile(self.passes, 0.5),
            "op_p50_s": quantile(lat, 0.5),
            "cpu_s": quantile(self.pass_cpu, 0.5),
        }

    def extra_lines(self) -> list[str]:
        """Figures printed for reading but kept out of the JSON result,
        which holds only figures that every workload has and that are
        never 0: the upper percentiles have fewer than ten samples beyond
        them in one run, ``records_per_s`` is ingest's alone, and
        ``failed_frac`` is 0 on a correct run (the JSON has its parts).
        ``peak_rss_mb`` moved by 20% between runs of the same code, with
        the JVM's heap sizing, so it has no bound."""
        lat = [r["t2"] - r["t0"] for r in self.records]
        n = len(lat)
        lines = [
            f"metric failed_frac {self.failed / max(self.attempted, 1)} share n={self.attempted}",
            f"metric peak_rss_mb {self.peak_rss_mb()} MB",
        ]
        if self.workload == "ingest":
            convert_s = quantile([c["t2"] - c["t0"] for c in self.converts], 0.5)
            lines += [
                f"metric op_p75_s {quantile(lat, 0.75)} s n={n}",
                f"metric records_per_s {self.info['records'] / convert_s} 1/s n={len(self.converts)}",
            ]
        else:
            lines.append(f"metric op_p90_s {quantile(lat, 0.9)} s n={n}")
        return lines


def _rest_time(s: str) -> float:
    """Epoch seconds of a REST timestamp such as 2026-01-02T03:04:05.678GMT."""
    t = datetime.strptime(s[:19], "%Y-%m-%dT%H:%M:%S").timetuple()
    return calendar.timegm(t) + int(s[20:23]) / 1000


def _union(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


def collect_trace(run: Run) -> dict[str, float]:
    """Per-layer metrics, per timed pass, from the status REST API and
    recentProgress, read after the run. A job is charged to the op during
    which it was submitted: one client runs one op at a time, and the
    streaming micro-batches run under their query's own job group."""
    sc = run.sc
    try:  # let the status store catch up with the listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    except Exception:  # noqa: BLE001
        time.sleep(2)
    port = sc.uiWebUrl.rsplit(":", 1)[1]
    base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"

    def get(path: str):
        with urllib.request.urlopen(base + path, timeout=60) as r:
            return json.load(r)

    stages = {
        s["stageId"]: s for s in get("/stages") if s["status"] in ("COMPLETE", "FAILED")
    }
    ops = run.converts + run.records
    jobs = [j for j in get("/jobs") if j.get("completionTime")]
    seen: set[int] = set()
    for op in ops:
        op_jobs = []
        for j in jobs:
            t0 = _rest_time(j["submissionTime"])
            if op["t0"] <= t0 <= op["t2"]:
                op_jobs.append((t0, _rest_time(j["completionTime"]), j["stageIds"]))
        acc = dict(jobs=len(op_jobs), task_s=0.0, shuffle=0, spill=0, input=0, scan_s=0.0,
                   gc_s=0.0, stages=0, tasks=0)
        for _, _, stage_ids in op_jobs:
            for sid in stage_ids:
                s = stages.get(sid)
                if s is None or sid in seen:
                    continue
                seen.add(sid)
                run_s = s["executorRunTime"] / 1000
                acc["stages"] += 1
                acc["tasks"] += s["numCompleteTasks"]
                acc["task_s"] += run_s
                acc["gc_s"] += s.get("jvmGcTime", 0) / 1000
                acc["shuffle"] += s["shuffleReadBytes"] + s["shuffleWriteBytes"]
                acc["spill"] += s["memoryBytesSpilled"] + s["diskBytesSpilled"]
                acc["input"] += s["inputBytes"]
                if s["inputBytes"] > 0 and s["shuffleReadBytes"] == 0:
                    acc["scan_s"] += run_s
        covered = _union([(max(a, op["t0"]), min(b, op["t2"])) for a, b, _ in op_jobs])
        acc["gap_s"] = (op["t2"] - op["t0"]) - covered
        op["acc"] = acc

    n = len(run.passes)

    def per_pass(sel: list[dict], f) -> float:
        return sum(f(op) for op in sel) / n

    def acc(key: str):
        return lambda op: op["acc"][key]

    m = {k: 0.0 for k in LAYER_UNITS}
    m["session.start_s"] = run.session_s
    m["tables.input_mb"] = per_pass(ops, acc("input")) / MB
    m["tables.scan_task_s"] = per_pass(ops, acc("scan_s"))
    for mod in OPERATOR_MODULES:
        sel = [op for op in ops if op["layer"] == f"operators.{mod}"]
        p = f"operators.{mod}."
        m[p + "call_s"] = per_pass(sel, lambda op: op["t1"] - op["t0"])
        m[p + "sink_s"] = per_pass(sel, lambda op: op["t2"] - op["t1"])
        m[p + "jobs"] = per_pass(sel, acc("jobs"))
        m[p + "task_s"] = per_pass(sel, acc("task_s"))
        m[p + "shuffle_mb"] = per_pass(sel, acc("shuffle")) / MB
        m[p + "spill_mb"] = per_pass(sel, acc("spill")) / MB
        m[p + "gap_s"] = per_pass(sel, acc("gap_s"))
        m[p + "failed"] = per_pass(sel, lambda op: not op["ok"])
    if run.converts:
        conv = run.converts
        m["etl.convert_s"] = quantile([c["t2"] - c["t0"] for c in conv], 0.5)
        m["etl.convert_jobs"] = sum(c["acc"]["jobs"] for c in conv) / len(conv)
        m["etl.convert_task_s"] = sum(c["acc"]["task_s"] for c in conv) / len(conv)
        m["etl.write_amp"] = run.info["write_amp"]
        m["etl.workload.query_s"] = quantile([op["t2"] - op["t1"] for op in run.records], 0.5)
        prog = [p for q in run.streams for p in q.recentProgress]

        def dur(*keys: str) -> float:
            ms = [p["durationMs"] if isinstance(p, dict) else p.durationMs for p in prog]
            return sum(d.get(k, 0) for d in ms for k in keys) / 1000 / n

        drain = per_pass(run.records, lambda op: op["t1"] - op["t0"])
        m["streaming.drain_s"] = drain
        m["streaming.start_s"] = drain - dur("triggerExecution")
        m["streaming.list_s"] = dur("latestOffset")
        m["streaming.plan_s"] = dur("queryPlanning")
        m["streaming.add_batch_s"] = dur("addBatch")
        m["streaming.commit_s"] = dur("walCommit", "commitOffsets")
        m["streaming.batches"] = len(prog) / n
    for key in ("jobs", "stages", "tasks", "task_s", "gc_s"):
        m[f"spark.{key}"] = per_pass(ops, acc(key))
    wall = sum(op["t2"] - op["t0"] for op in ops)
    m["spark.gap_share"] = sum(op["acc"]["gap_s"] for op in ops) / wall
    m["trace.wall_s"] = quantile(run.passes, 0.5)
    return m


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks so far: the share a hypervisor took from
    this machine during a run explains runs that are slow throughout."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return ticks[7], sum(ticks)


def run_once(args) -> int:
    os.makedirs(WORK, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix="run-", dir=WORK)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    # Python workers (mapInPandas) import the package from the repo root.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = HEAP
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    load_start, ticks_start = os.getloadavg()[0], cpu_ticks()
    run = Run(args, run_dir)
    try:
        if args.workload == "ingest":
            run.write_tree()
        else:
            data_dir(args.scale)  # inputs exist before the session starts
        run.start()
        try:
            if args.workload == "ingest":
                run.run_ingest()
            else:
                run.run_queries()
            if args.trace:
                metrics, units, lines = collect_trace(run), LAYER_UNITS, []
            else:
                metrics, units, lines = run.end_to_end(), E2E_UNITS, run.extra_lines()
        finally:
            run.stop()
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(f"info seed {args.seed}")
    print(f"info load_avg_1min {load_start:.2f} {os.getloadavg()[0]:.2f}")
    steal, total = (b - a for a, b in zip(ticks_start, cpu_ticks()))
    print(f"info cpu_steal_share {steal / max(total, 1):.3f}")
    print(f"info passes {len(run.passes)} ops {len(run.records)} timed_s {run.timed_wall:.3f}")
    for k, v in run.info.items():
        print(f"info {k} {v}")
    for ln in lines:
        print(ln)
    for k, v in metrics.items():
        print(f"metric {k} {v} {units[k]}")
    print(
        json.dumps(
            {
                "correct": run.failed == 0,
                "attempted": run.attempted,
                "failed": run.failed,
                "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
            }
        )
    )
    return 0


def overhead(args) -> int:
    """Traced minus untraced wall_s, same seed, two child runs."""
    walls = {}
    for trace in (0, 1):
        cmd = [
            sys.executable, os.path.abspath(__file__), "--workload", args.workload,
            "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(trace),
            "--scale", str(args.scale),
        ]
        out = subprocess.run(cmd, check=True, capture_output=True, text=True).stdout
        m = json.loads(out.strip().splitlines()[-1])["metrics"]
        walls[trace] = m["trace.wall_s" if trace else "wall_s"]["value"]
    print(f"untraced wall_s {walls[0]}")
    print(f"traced wall_s {walls[1]}")
    print(f"overhead_s {walls[1] - walls[0]}")
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=1)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=SCALE, help="table scale factor")
    ap.add_argument("--expected", default=EXPECTED, help="expected oracle hashes")
    ap.add_argument("--overhead", action="store_true", help="report tracing overhead")
    ap.add_argument("--write-expected", action="store_true", help="rebuild expected.json")
    args = ap.parse_args()
    if args.write_expected:
        write_expected()
        return 0
    if args.workload is None:
        ap.error("--workload is required")
    return overhead(args) if args.overhead else run_once(args)


if __name__ == "__main__":
    sys.exit(main())
